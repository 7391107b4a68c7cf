"""Spark 4 Python Data Source: partition-parallel directory-corpus ingest.

``corpus_from_dir`` (corpus.py) walks a directory ON THE DRIVER and
materializes every file's content into a createDataFrame — fine for
fixture corpora, a non-starter for a checkout tree with millions of
files. This module re-expresses that ingest as a first-class Spark data
source (pyspark.sql.datasource, new in Spark 4): the driver lists only
PATHS (cheap metadata) inside ``partitions()`` and shards them
round-robin; executors open and decode file contents inside ``read()``.
Content decoding is byte-identical to corpus_from_dir (utf-8,
errors='ignore' — reference core/codebase.py:22-25), and the same
intended ignore rules apply (reference core/scanner.py:41-50; its actual
dir-skip loop is a no-op bug the relational filter documents).

Scale shape: driver memory = file-path list only; content I/O is
executor-parallel across ``num_shards`` partitions; the emitted rows
feed ``ingest_source_files`` unchanged (sha256 invariant, lang map,
relational ignore re-check all downstream). For a true lake deployment
the corpus still belongs in Iceberg/parquet (read_source_files) — this
source covers the "point Spark at a checkout tree" on-ramp without a
driver bottleneck.

Pickling note: executors receive the READER object by pickle, and its
class pickles by reference, so a worker imports this module: the source
ships the package (``ensure_shipped``) before it reads. Every constant
the reader needs (ignore lists, the extension→lang map) is captured as
instance state in ``__init__``.
"""

from __future__ import annotations

import os
from typing import Iterator, List

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..deploy import drop_zip_finders, ensure_shipped
from ..kb.compile import AST_LANG_MAP
from .corpus import IGNORED_DIRS, IGNORED_EXTENSIONS

SOURCE_FILES_DDL = (
    "repo string, path string, commit string, lang string, content string"
)


class _Shard(InputPartition):
    def __init__(self, files: List[str]):
        self.files = files


class CorpusDirDataSource(DataSource):
    """``spark.read.format("corpus_dir").option("path", root).load()``.

    Options: path (required), repo, commit, num_shards,
    apply_ignore_rules ("true"/"false")."""

    @classmethod
    def name(cls) -> str:
        return "corpus_dir"

    def schema(self) -> str:
        return SOURCE_FILES_DDL

    def reader(self, schema) -> "CorpusDirReader":
        return CorpusDirReader(self.options)


class CorpusDirReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]
        self.repo = options.get("repo", "local")
        self.commit = options.get("commit", "HEAD")
        self.apply_ignore = (
            str(options.get("apply_ignore_rules", "true")).lower() == "true"
        )
        self.num_shards = int(options.get("num_shards", "8"))
        # captured as instance state so the pickled reader is
        # self-contained on executors (see module docstring)
        self.ignored_dirs = set(IGNORED_DIRS)
        self.ignored_exts = tuple(IGNORED_EXTENSIONS)
        self.lang_map = dict(AST_LANG_MAP)

    def partitions(self) -> List[_Shard]:
        files: List[str] = []
        for dirpath, dirnames, filenames in os.walk(self.root):
            if self.apply_ignore:
                dirnames[:] = [d for d in dirnames if d not in self.ignored_dirs]
            for fn in sorted(filenames):
                if self.apply_ignore and fn.endswith(self.ignored_exts):
                    continue
                files.append(os.path.join(dirpath, fn))
        shards = [files[i :: self.num_shards] for i in range(self.num_shards)]
        shards = [s for s in shards if s]
        return [_Shard(s) for s in shards] or [_Shard([])]

    def read(self, partition: _Shard) -> Iterator[tuple]:
        drop_zip_finders()
        for fp in partition.files:
            with open(fp, "r", encoding="utf-8", errors="ignore") as f:
                content = f.read()
            rel = os.path.relpath(fp, self.root)
            ext = os.path.splitext(fp)[1]
            yield (
                self.repo,
                rel,
                self.commit,
                self.lang_map.get(ext, "other"),
                content,
            )
        drop_zip_finders()


def corpus_from_dir_distributed(
    spark,
    root: str,
    repo: str = "local",
    commit: str = "HEAD",
    apply_ignore_rules: bool = True,
    num_shards: int = 8,
):
    """Register (idempotent) and read the corpus_dir data source."""
    ensure_shipped(spark)
    spark.dataSource.register(CorpusDirDataSource)
    return (
        spark.read.format("corpus_dir")
        .option("path", root)
        .option("repo", repo)
        .option("commit", commit)
        .option("apply_ignore_rules", str(apply_ignore_rules).lower())
        .option("num_shards", str(num_shards))
        .load()
    )
