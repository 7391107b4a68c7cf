"""docs/QUERIES.md is exactly what tools/gen_queries_md.py generates from the
registry: every query listed once, under its module's family, with its
build function's leading comments. No Spark session."""

import os

from tools.gen_queries_md import render

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_committed_catalog_matches_its_generator():
    with open(os.path.join(REPO, "docs", "QUERIES.md")) as f:
        committed = f.read()
    assert committed == render(), "docs/QUERIES.md is stale: run python tools/gen_queries_md.py"
