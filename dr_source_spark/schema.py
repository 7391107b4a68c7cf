"""Canonical schemas for every table the engine reads or writes.

Data model re-expressed from the reference's in-memory objects / SQLite
store (reference: dr_source/api.py:13-32 Vulnerability dataclass,
dr_source/core/db.py:34-56 DDL, dr_source/core/project_index.py:7-12
FunctionDefinition) as columnar Spark schemas. The lineage tables of
resumable runs are written by one runner, operators/lineage.run_splits.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Input corpus: the BASELINE input_hint shape. `content_sha256` is derived
# at ingest (per-row invariant vs the reference corpus bytes).
SOURCE_FILES = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
    ]
)

# Findings fact table: the row the detector stage writes
# (operators/analyze.run_detectors) — reference Vulnerability dataclass plus
# corpus keys. `trace` stays a native array (reference flattens to " -> "
# only at the SQLite boundary, scanner.py:209 / db.py:246-248).
FINDINGS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("vuln_type", StringType(), False),
        StructField("message", StringType(), False),
        StructField("severity", StringType(), False),
        StructField("line", IntegerType(), False),
        StructField("plugin", StringType(), False),
        StructField("trace", ArrayType(StringType()), True),
        StructField("rule_id", StringType(), True),  # regex tier only
        StructField("cwe", StringType(), True),
        StructField("variable", StringType(), True),
        StructField("sink", StringType(), True),
        StructField("source", StringType(), True),
        StructField("base_type", StringType(), True),  # vuln_type without the " (…)" suffix
    ]
)

# Exploded KB dimension (broadcast): one row per (vuln_type, lang, tier, rule).
KB_RULES = StructType(
    [
        StructField("vuln_type", StringType(), False),
        StructField("cwe", StringType(), True),
        StructField("severity", StringType(), True),
        StructField("lang", StringType(), False),  # '*' for general regex
        StructField("tier", StringType(), False),  # regex|ast|pattern
        StructField("rule_id", StringType(), True),
        StructField("pattern", StringType(), True),
        StructField("message", StringType(), True),
        StructField("rule_severity", StringType(), True),  # per-rule override
        StructField("sources", ArrayType(StringType()), True),
        StructField("sinks_json", StringType(), True),  # [{name, args|null}]
        StructField("sanitizers", ArrayType(StringType()), True),
        StructField("logic_json", StringType(), True),  # pattern tier boolean tree
    ]
)

# Symbol table (job-1 output; reference core/project_index.py, last-wins).
PROJECT_INDEX = StructType(
    [
        StructField("name", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("def_source", StringType(), True),  # re-parsed in executors
        StructField("def_line", IntegerType(), True),  # 1-based line of the def in its file
        StructField("params", ArrayType(StringType()), True),
        StructField("order_id", LongType(), True),  # registration order for last-wins
    ]
)

# KG projection.
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),  # HAS_VULN|TAINTED_BY|FLOWS_TO|MATCHES_RULE
        StructField("obj", StringType(), False),
        StructField("line", IntegerType(), True),
        StructField("trace", ArrayType(StringType()), True),
        StructField("run_id", StringType(), True),
    ]
)

NODES = StructType(
    [
        StructField("node_id", StringType(), False),
        StructField("kind", StringType(), False),  # file|file_line|rule|cwe|sink|entity
        StructField("label", StringType(), True),
    ]
)

EDGES = StructType(
    [
        StructField("src", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("line", IntegerType(), True),
    ]
)
