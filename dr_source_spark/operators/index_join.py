"""Inter-file resolution via distributed joins — the fallback when the
symbol index exceeds any broadcast budget (SURVEY.md §2A A4 strategy (b)).

Instead of shipping one global dict to every executor, each file gets its
own (tiny) slice of the index attached as a map column:

  round 1: call-shaped identifiers per file  ⋈  index on name
  rounds 2..max_depth: the names first reached in the previous round
                       ⋈ def → callee edges, minus the names the file
                       already reaches (transitive closure to the same
                       depth-3 the reference's simulation recurses)

All joins are plain equi-joins on a short string key — shuffle-partitioned,
skew handled by AQE; nothing is collected to the driver. The detector stage
then reads the per-row map instead of a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# doubled backslashes: this literal is embedded inside a SQL expr string
CALL_NAME_RE = r"([A-Za-z_$][A-Za-z0-9_$]*)\\s*\\("


def _called(df: DataFrame, key_cols: list, text_col: str) -> DataFrame:
    return df.select(
        *key_cols,
        F.explode(
            F.array_distinct(F.expr(f"regexp_extract_all({text_col}, '{CALL_NAME_RE}', 1)"))
        ).alias("callee"),
    )


def attach_called_defs(files: DataFrame, index_df: DataFrame, max_depth: int = 3) -> DataFrame:
    """files(repo, path, …, content) → same rows + ``called_defs``
    map<string, struct<path, lang, def_source, def_line, params>> holding
    every def reachable from the file within ``max_depth`` call hops.

    Semi-naive: each hop expands only the names first reached at the
    previous hop, deduplicated per file and anti-joined against everything
    reached so far. BFS reaches each def at its shortest depth, so the set
    within ``max_depth`` is the same as re-expanding every call path, while
    the rows per hop stay bounded by the distinct reachable names."""
    names = index_df.select(F.col("name").alias("callee"))
    # def → indexed callee edges, extracted once per def (not once per file
    # that reaches it)
    calls = _called(index_df, ["name"], "def_source").join(names, "callee", "left_semi")

    # each hop is checkpointed: the anti-join reads every earlier hop, so
    # without it the plan re-derives each hop once per reference (over the
    # Java files of tests/realcode: 48 exchanges in the detector plan, 4 with)
    frontier = (
        _called(files, ["repo", "path"], "content")
        .join(names, "callee", "left_semi")
        .select("repo", "path", F.col("callee").alias("name"))
        .distinct()
        .localCheckpoint()
    )
    reached = frontier
    for _hop in range(1, max_depth):
        frontier = (
            frontier.join(calls, "name")
            .select("repo", "path", F.col("callee").alias("name"))
            .distinct()
            .join(reached, ["repo", "path", "name"], "left_anti")
            .localCheckpoint()
        )
        reached = reached.unionByName(frontier)

    defs = index_df.select(
        "name", F.struct("path", "lang", "def_source", "def_line", "params").alias("def")
    )
    per_file = (
        reached.join(defs, "name")
        .groupBy("repo", "path")
        .agg(F.map_from_entries(F.collect_list(F.struct("name", "def"))).alias("called_defs"))
    )
    return files.join(per_file, ["repo", "path"], "left")
