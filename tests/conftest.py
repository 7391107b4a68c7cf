import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"


def pytest_configure(config):
    # print skip reasons (the absent-reference one) in the default summary
    if "s" not in config.option.reportchars:
        config.option.reportchars += "s"


@pytest.fixture(scope="session")
def spark():
    from dr_source_spark.session import get_spark

    s = get_spark(app_name="dr_source_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def reference():
    """Root of the reference checkout: its ``dr_source`` package and its
    fixture corpus under ``tests/test_code``. Every test that reads it goes
    through this check. The checkout is not part of this repository and
    cannot be fetched offline; without it tests/realcode and the
    synth-template oracles are the local ground truth."""
    if not os.path.isdir(f"{REFERENCE}/tests/test_code"):
        pytest.skip(f"reference checkout absent at {REFERENCE}: the reference-parity "
                    "and P/R >= 0.95 gates cannot run here")
    return REFERENCE


@pytest.fixture(scope="session")
def reference_corpus(reference):
    return f"{reference}/tests/test_code"


@pytest.fixture(scope="session")
def fixture_corpus(spark, reference_corpus):
    """The reference fixture corpus as a source_files DataFrame (golden input)."""
    from dr_source_spark.sources.corpus import corpus_from_dir

    return corpus_from_dir(spark, reference_corpus, repo="dr_source_fixtures", commit="v0.170.0").cache()


@pytest.fixture(scope="session")
def realcode_dir():
    """The hash-pinned real-code corpus (tests/realcode/README.md)."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "realcode")


@pytest.fixture(scope="session")
def realcode_corpus(spark, realcode_dir):
    """tests/realcode as a source_files DataFrame."""
    from dr_source_spark.sources.corpus import corpus_from_dir

    return corpus_from_dir(spark, realcode_dir, repo="realcode", commit="pin").cache()


SF_DIR = "/root/testdata/sf0.001"
