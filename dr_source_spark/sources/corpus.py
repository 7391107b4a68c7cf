"""Sources: the ``source_files`` corpus table.

At scale the corpus is an Iceberg/parquet table with columns
``(repo, path, commit, lang, content)`` — we read it with
``spark.read`` so Catalyst gets column pruning / predicate pushdown /
partition pruning for free. For local fixture corpora we walk a directory
on the driver (tiny by definition) applying the reference's *intended*
ignore rules (reference core/scanner.py:41-50; its dir-skip loop is a no-op
bug, scanner.py:108-110 — fixtures never exercise it, SURVEY.md §2A A2).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..kb.compile import AST_LANG_MAP
from ..schema import SOURCE_FILES

IGNORED_DIRS = [
    ".git", ".svn", ".hg", "__pycache__", "node_modules", "vendor",
    "dist", "build", "target", "out", "bin", "tmp", "temp", "log",
    "test-output", "report", "results",
]
IGNORED_EXTENSIONS = [
    ".log", ".tmp", ".temp", ".bak", ".swp", ".class", ".jar", ".war",
    ".ear", ".dll", ".exe", ".o", ".so", ".obj", ".pyc", ".pyo",
    ".iml", ".ipr", ".iws", ".md", ".txt", ".json", ".xml", ".yaml", ".yml",
]


def read_source_files(
    spark: SparkSession, location: str, fmt: str = "parquet", csv_multiline: bool = False
) -> DataFrame:
    """Scan the corpus table. Iceberg when a catalog table name is given
    (a dotted name with no '/' that is not an existing path); parquet
    (default), ORC, JSONL, or headered CSV paths otherwise — all mapped
    onto the SOURCE_FILES schema so every downstream stage is
    format-agnostic. Columnar formats keep pushdown/pruning; JSONL/
    CSV are ingest conveniences for corpus drops.

    CSV is read SPLITTABLE by default (multiLine=False — records must not
    contain raw embedded newlines). csv_multiline=True opts into quoted
    embedded newlines, at the documented cost of one task per file at scale
    (multiLine CSV is not splittable) — steer bulk source-code drops, which
    always embed newlines, to JSONL/ORC/parquet instead."""
    if fmt == "iceberg" or ("/" not in location and "." in location and not os.path.exists(location)):
        return spark.read.format("iceberg").load(location)
    if os.path.exists(location):
        # relative to this process's cwd, not the JVM's
        location = os.path.abspath(location)
    if fmt == "dir":
        # checkout-tree on-ramp: the Spark 4 Python Data Source walks the
        # tree partition-parallel (driver lists paths only; executors read
        # contents) — see sources/pyds.py
        from .pyds import corpus_from_dir_distributed

        return corpus_from_dir_distributed(spark, location)
    if fmt == "orc":
        return spark.read.orc(location)
    if fmt in ("json", "jsonl"):
        return spark.read.schema(SOURCE_FILES).json(location)
    if fmt == "csv":
        reader = spark.read.schema(SOURCE_FILES).option("header", True).option("escape", '"')
        if csv_multiline:
            reader = reader.option("multiLine", True)
        return reader.csv(location)
    return spark.read.parquet(location)


def corpus_from_dir(
    spark: SparkSession,
    root: str,
    repo: str = "local",
    commit: str = "HEAD",
) -> DataFrame:
    """Walk a local directory into a source_files DataFrame (driver-side;
    for fixture-scale corpora only). Content is decoded utf-8 with
    errors='ignore' — byte-identical normalization to the reference
    (core/codebase.py:22-25, plugins read with the same flags)."""
    rows = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in IGNORED_DIRS]
        for fn in sorted(filenames):
            if any(fn.endswith(ext) for ext in IGNORED_EXTENSIONS):
                continue
            fp = os.path.join(dirpath, fn)
            with open(fp, "r", encoding="utf-8", errors="ignore") as f:
                content = f.read()
            rel = os.path.relpath(fp, root)
            ext = os.path.splitext(fn)[1]
            rows.append((repo, rel, commit, AST_LANG_MAP.get(ext, "other"), content))
    return spark.createDataFrame(rows, SOURCE_FILES)


def ingest_source_files(df: DataFrame, apply_ignore_rules: bool = True) -> DataFrame:
    """Ingest stage: derive ``ext``/``lang``, the sha256 invariant column and
    size, and apply the ignore filter relationally (JVM-side, codegen).

    ``sha2(content, 256)`` hashes the UTF-8 bytes of the normalized content
    string — the per-row invariant vs the reference corpus.

    DELIBERATE DEVIATION: apply_ignore_rules=True enforces the reference's
    *intended* dir/extension ignore semantics (core/scanner.py:41-50); the
    reference's actual dir-skip loop is a no-op bug (scanner.py:108-110), so
    a live reference run DOES scan node_modules/vendor/dist/etc. Pass
    apply_ignore_rules=False to reproduce that observed behavior on corpora
    that contain such directories (the parity fixtures never do).
    """
    # SQL text, not Column builders: a create_map of 26 literals, an isin
    # over 25 extensions and four withColumns cost 406 py4j round trips
    # (~100 ms, paid once per commit); one selectExpr and one where cost 14
    derived = {
        "ext": _EXT_SQL,
        "lang": f"coalesce(lang, element_at({_LANG_MAP_SQL}, {_EXT_SQL}), 'other')",
        "content_sha256": "sha2(content, 256)",
        "size_bytes": "CAST(octet_length(content) AS BIGINT)",
    }
    # withColumn's placement: a derived column replaces one of its name in
    # place, the others are appended in order
    cols = [f"{derived.pop(c)} AS {c}" if c in derived else _quoted(c) for c in df.columns]
    df = df.selectExpr(*cols, *(f"{e} AS {c}" for c, e in derived.items()))
    if not apply_ignore_rules:
        return df
    return df.where(_NOT_IGNORED_SQL)


def _sql_literal(s: str) -> str:
    """A Spark SQL string literal (backslash escapes are on by default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


_EXT_PATTERN = r"(\.[^./\\]+)$"
_EXT_SQL = f"regexp_extract(path, {_sql_literal(_EXT_PATTERN)}, 1)"
_LANG_MAP_SQL = "map(" + ", ".join(_sql_literal(x) for kv in AST_LANG_MAP.items() for x in kv) + ")"
# intended dir rule: no path segment equals an ignored dir name
_SEGMENT_PATTERN = "(^|/)(" + "|".join(d.replace(".", r"\.") for d in IGNORED_DIRS) + ")(/)"
_NOT_IGNORED_SQL = (
    f"NOT ext IN ({', '.join(map(_sql_literal, IGNORED_EXTENSIONS))})"
    f" AND NOT path RLIKE {_sql_literal(_SEGMENT_PATTERN)}"
)
