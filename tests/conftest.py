import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from dr_source_spark.session import get_spark

    s = get_spark(app_name="dr_source_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_corpus(spark):
    """The reference fixture corpus as a source_files DataFrame (golden input)."""
    from dr_source_spark.sources.corpus import corpus_from_dir

    return corpus_from_dir(
        spark, "/root/reference/tests/test_code", repo="dr_source_fixtures", commit="v0.170.0"
    ).cache()


SF_DIR = "/root/testdata/sf0.001"
