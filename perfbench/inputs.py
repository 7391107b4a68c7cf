"""Seeded input generators. Every workload input is written to disk as a
parquet table before any timing starts; the program under test only ever
reads those tables.

Pure Python (pyarrow + the package's template renderer), so generating an
input costs no Spark job and the same seed always gives byte-identical
tables.
"""

from __future__ import annotations

import math
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

from dr_source_spark.sources.synth import _TEMPLATES, EXPECTED_FINDINGS, render_template

# The 31-word vocabulary of the documents tables the repository's driver
# corpora use; the per-template finding constants in sources/synth.py are
# verified for these words.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

SOURCE_SCHEMA = pa.schema(
    [("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
     ("lang", pa.string()), ("content", pa.string())]
)

# Templates whose content takes the corpus word and whose findings need no
# cross-file index: a commit re-renders them with a new word, which changes
# the file while keeping its finding count a template constant.
_CHANGEABLE = [t for t, (_l, _p, c) in enumerate(_TEMPLATES) if "§W§" in c and "§M§" not in c]


def write_files(rows: list[tuple], path: str) -> None:
    """Write source_files rows as one parquet file."""
    cols = list(zip(*rows))
    pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(cols, SOURCE_SCHEMA)], schema=SOURCE_SCHEMA), path)


def documents(rng: random.Random, n: int) -> list[tuple[int, str]]:
    """documents(doc_id, text): contiguous doc ids, 10-100 vocabulary words
    (all of them plain identifiers, so the synthesized word needs no
    sanitizing)."""
    return [(i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))) for i in range(n)]


def write_documents(docs: list[tuple[int, str]], path: str) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                  "text": pa.array([t for _, t in docs], pa.string())}),
        path,
    )


def synth_file(doc_id: int, word: str, commit: str = "bench") -> tuple:
    """One source_files row, as sources/synth.synth_code_corpus(templates=0)
    renders document ``doc_id`` (repo_k owns the ids with floor(sqrt(id)) = k)."""
    path, content = render_template(doc_id % len(_TEMPLATES), doc_id, word)
    return (f"repo_{math.isqrt(doc_id)}", path, commit, None, content)


def synth_corpus(docs: list[tuple[int, str]]) -> list[tuple]:
    return [synth_file(d, t.split(" ")[2]) for d, t in docs]


def commit_files(rng: random.Random, docs: list[tuple[int, str]], words: dict, n: int, commit: str):
    """One commit: ``n`` distinct base files re-rendered with a new corpus
    word. ``words`` tracks each doc's current word and is updated. Returns
    (rows, expected finding count)."""
    ids = rng.sample([d for d, _ in docs if d % len(_TEMPLATES) in _CHANGEABLE], n)
    rows, expected = [], 0
    for d in sorted(ids):
        words[d] = rng.choice([w for w in VOCAB if w != words[d]])
        rows.append(synth_file(d, words[d], commit=commit))
        expected += len(EXPECTED_FINDINGS[d % len(_TEMPLATES)])
    return rows, expected


def properties(rows: list[tuple]) -> dict:
    """Input properties recorded next to the metrics."""
    sizes = sorted(len(r[4].encode("utf-8")) for r in rows)
    langs: dict = {}
    for r in rows:
        ext = os.path.splitext(r[1])[1] or "none"
        langs[ext] = langs.get(ext, 0) + 1
    contents = [r[4] for r in rows]
    q = statistics.quantiles(sizes, n=100) if len(sizes) > 1 else sizes * 99
    return {
        "files": len(rows),
        "mb": round(sum(sizes) / 2**20, 3),
        "size_p50_b": int(q[49]),
        "size_p99_b": int(q[98]),
        "size_max_b": sizes[-1] if sizes else 0,
        "duplicate_share": round(1 - len(set(contents)) / max(len(contents), 1), 4),
        "lang_mix": dict(sorted(langs.items())),
        # template 7 calls a helper defined in template 6's file
        "cross_file_pairs": sum(1 for r in rows if "runQuery" in r[4] and "DbHelper" not in r[1]),
    }
