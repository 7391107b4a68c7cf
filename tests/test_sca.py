"""SCA enrichment join (B12) over the reference's deps fixtures."""

import pytest


@pytest.fixture(scope="module")
def deps_corpus(spark, reference_corpus):
    from dr_source_spark.sources.corpus import corpus_from_dir

    # deps fixtures are .txt/.xml — unreachable via directory-scan ignore
    # rules (reference scanner.py:49 quirk) → load with rules off, as the
    # reference does for single-file targets
    return corpus_from_dir(
        spark, f"{reference_corpus}/deps", repo="deps", commit="v1", apply_ignore_rules=False
    )


def test_parse_requirements(spark, deps_corpus):
    from dr_source_spark.operators.sca import parse_requirements

    rows = {(r.package, r.version) for r in parse_requirements(deps_corpus).collect()}
    assert rows, "no pinned requirements parsed"
    assert all(p == p.lower() for p, _ in rows)


def test_parse_pom(spark, deps_corpus):
    from dr_source_spark.operators.sca import parse_pom

    rows = {(r.package, r.version) for r in parse_pom(deps_corpus).collect()}
    assert rows, "no pom dependencies parsed"
    assert all(":" in p for p, _ in rows)


def test_sca_findings_join(spark, deps_corpus):
    from dr_source_spark.operators.sca import parse_requirements, sca_findings

    deps = parse_requirements(deps_corpus)
    first = deps.first()
    advisories = spark.createDataFrame(
        [(first.package, first.version, "OSV-TEST-1", "high", "test advisory")],
        "package string, version string, advisory_id string, severity string, summary string",
    )
    out = sca_findings(deps, advisories).collect()
    assert len(out) == 1
    f = out[0]
    assert f.vuln_type == "VULNERABLE_DEPENDENCY" and f.severity == "HIGH"
    assert "OSV-TEST-1" in f.message


def test_catalog_parquet_roundtrip(spark, tmp_path_factory):
    from dr_source_spark.sources.catalog import read_table, write_table

    out = str(tmp_path_factory.mktemp("catalog")) + "/t"
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("k", (F.col("id") % 2).cast("string"))
    write_table(df, out, mode="overwrite", partition_by=["k"])
    back = read_table(spark, out)
    assert back.count() == 10 and set(back.columns) == {"id", "k"}


def test_catalog_write_dispatch(spark, tmp_path):
    """Iceberg can't run here (no jars) but the writer DISPATCH is testable:
    table names route to writeTo (Iceberg DSv2), paths to partitioned
    parquet; iceberg_available reads the real session conf (a sliced-empty
    getAll() previously made the catalog scan a no-op)."""
    from unittest.mock import MagicMock

    from dr_source_spark.sources.catalog import iceberg_available, write_table

    df = MagicMock()
    write_table(df, "cat.db.findings", mode="append")
    df.writeTo.assert_called_once_with("cat.db.findings")
    df.writeTo.return_value.append.assert_called_once()

    df2 = MagicMock()
    write_table(df2, "cat.db.findings", mode="overwrite")
    df2.writeTo.return_value.createOrReplace.assert_called_once()

    # path → parquet with partitioning, real round-trip
    real = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    out = str(tmp_path / "t")
    write_table(real, out, mode="overwrite", partition_by=["k"])
    assert spark.read.parquet(out).count() == 2

    # no catalog configured in this sandbox session
    assert iceberg_available(spark) is False
