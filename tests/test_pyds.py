"""The Spark 4 Python Data Source corpus reader must agree row-for-row
with the driver-side fixture walker on the reference fixture tree, while
actually distributing the content reads across partitions."""


def _norm(rows):
    return sorted((r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows)


class TestCorpusDirDataSource:
    def test_parity_with_driver_walker(self, spark, reference_corpus):
        from dr_source_spark.sources.corpus import corpus_from_dir
        from dr_source_spark.sources.pyds import corpus_from_dir_distributed

        want = _norm(corpus_from_dir(spark, reference_corpus, repo="r", commit="c").collect())
        got_df = corpus_from_dir_distributed(
            spark, reference_corpus, repo="r", commit="c", num_shards=4
        )
        got = _norm(got_df.collect())
        assert got == want
        assert len(got) > 30  # the fixture tree is non-trivial (43 files)
        # the reads really are partition-parallel
        assert got_df.rdd.getNumPartitions() == 4

    def test_ignore_rules_off_reads_everything(self, spark, tmp_path):
        import os

        from dr_source_spark.sources.pyds import corpus_from_dir_distributed

        os.makedirs(tmp_path / "node_modules")
        (tmp_path / "a.py").write_text("x = 1\n")
        (tmp_path / "notes.md").write_text("readme\n")
        (tmp_path / "node_modules" / "b.js").write_text("var y = 2;\n")
        on = corpus_from_dir_distributed(spark, str(tmp_path))
        off = corpus_from_dir_distributed(
            spark, str(tmp_path), apply_ignore_rules=False
        )
        assert {r["path"] for r in on.collect()} == {"a.py"}
        assert {r["path"] for r in off.collect()} == {
            "a.py", "notes.md", os.path.join("node_modules", "b.js")
        }

    def test_feeds_ingest_invariant(self, spark, reference_corpus):
        # the downstream sha256 ingest invariant holds over the source
        from dr_source_spark.sources.corpus import ingest_source_files
        from dr_source_spark.sources.pyds import corpus_from_dir_distributed

        df = ingest_source_files(
            corpus_from_dir_distributed(spark, reference_corpus)
        )
        row = df.filter(df.path.endswith(".java")).select("content_sha256").first()
        assert row is not None and len(row[0]) == 64
