"""Matcher-level live differential gate for the textual pattern fallback.

The reference's structural tree-sitter matcher can't run here, but its
textual fallback (plugins/pattern/ts_matcher.py:73-102) is pure Python —
so OUR ``textual_match`` is diffed against the REFERENCE's
``TreeSitterPatternMatcher._textual_match`` run live (one subprocess per
batch), on synthesized (pattern, text) pairs across all five pattern-tier
languages. Bulk campaigns run via ``python tools/matcher_diff_fuzz.py N
seed`` (12,000 pairs / 4 seeds at round 5, 0 divergences); this gate keeps
a smaller deterministic slice in CI.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dr_source_spark.detectors.pattern_match import textual_match  # noqa: E402
from tools.matcher_diff_fuzz import generate_pairs, run_reference_fallback  # noqa: E402


def test_textual_fallback_matches_reference_live(reference):
    pairs = generate_pairs(600, seed=0)
    ref = run_reference_fallback(pairs)
    divergences = [
        (p, t, r, o)
        for (p, t), r in zip(pairs, ref)
        if (o := bool(textual_match(p, t))) != r
    ]
    assert divergences == [], divergences[:5]
    # the batch must actually exercise the matcher both ways
    n_pos = sum(ref)
    assert 50 < n_pos < len(pairs) - 50
