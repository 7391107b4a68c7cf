"""Custom stateful streaming operator: cumulative per-repo finding counters.

Demonstrates the `applyInPandasWithState` shape for operators the built-in
streaming aggregations can't express (here: a monotone per-repo risk ledger
emitting a row only when a repo's cumulative severity-weighted
score crosses its next power-of-two threshold — i.e., output depends on
state trajectory, not just the aggregate)."""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, DoubleType, StringType, StructField, StructType,
)

from ..deploy import drop_zip_finders

SEVERITY_WEIGHTS = {"CRITICAL": 8.0, "HIGH": 4.0, "MEDIUM": 2.0, "LOW": 1.0, "INFO": 0.5}

STATE_SCHEMA = StructType(
    [
        StructField("score", DoubleType()),
        StructField("n_findings", LongType()),
        StructField("next_threshold", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("cum_score", DoubleType()),
        StructField("cum_findings", LongType()),
        StructField("threshold_crossed", DoubleType()),
    ]
)


def _update(
    key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    drop_zip_finders()
    (repo,) = key
    if state.exists:
        score, n, nxt = state.get
    else:
        score, n, nxt = 0.0, 0, 1.0
    for pdf in pdfs:
        weights = pdf["severity"].map(lambda s: SEVERITY_WEIGHTS.get(s, 1.0))
        score += float(weights.sum())
        n += int(len(pdf))
    state.update((score, n, nxt))
    rows = []
    while score >= nxt:
        rows.append({"repo": repo, "cum_score": score, "cum_findings": n, "threshold_crossed": nxt})
        nxt *= 2.0
    if rows:
        state.update((score, n, nxt))
        yield pd.DataFrame(rows, columns=[f.name for f in OUTPUT_SCHEMA.fields])
    drop_zip_finders()


def repo_risk_ledger(findings_stream: DataFrame) -> DataFrame:
    """findings stream (repo, severity, ...) → append stream of threshold
    crossings. Emitted rows are final → append output mode (parquet-sink friendly)."""
    from ..deploy import ensure_shipped

    ensure_shipped(findings_stream.sparkSession)
    return (
        findings_stream.select("repo", "severity")
        .groupBy("repo")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
