"""Planted-truth tests for the batch-32 operators: split-leakage census
(near-dup) and the KB rule-coverage report.

Split facts used below (pure function of the id through the portable
md5 hash family): ids 0-5 -> train, 16/21 -> val, 19/26 -> test.
"""

from pyspark.sql import functions as F

LONG_A = "the quick brown fox jumps over the lazy dog near the river bank today"
LONG_B = "completely different words about spark shuffles and broadcast joins here"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestNearDupSplitLeakage:
    def test_cross_split_pair_surfaces(self, spark):
        from dr_source_spark.training.dedup import near_dup_split_leakage

        # 1 (train) and 16 (val) identical -> certain LSH candidates,
        # jaccard 1.0, different splits -> MUST surface.
        # 2 and 3 identical but both train -> must NOT surface.
        # 19 (test) has unrelated text -> no verified pair at all.
        df = _docs(
            spark,
            [(1, LONG_A), (16, LONG_A), (2, LONG_B), (3, LONG_B), (19, "odd one out entirely")],
        )
        out = near_dup_split_leakage(df).collect()
        assert len(out) == 1
        r = out[0]
        assert {r["doc_a"], r["doc_b"]} == {1, 16}
        assert {r["split_a"], r["split_b"]} == {"train", "val"}
        assert r["jaccard"] == 1.0

    def test_threshold_gates_pairs(self, spark):
        from dr_source_spark.training.dedup import near_dup_split_leakage

        # two extra words: the pair survives LSH banding (verified:
        # jaccard 0.8571 on this fixture) but sits below the default
        # 0.9 bar -> censored at 0.9, surfaced at 0.5
        df = _docs(spark, [(1, LONG_A), (16, LONG_A + " extra tail")])
        strict = near_dup_split_leakage(df)  # default threshold 0.9
        loose = near_dup_split_leakage(df, threshold=0.5)
        assert strict.count() == 0
        assert loose.count() == 1


class TestRuleCoverage:
    def test_fired_and_silent_rules(self, spark):
        from dr_source_spark.kb.compile import kb_rules_df
        from dr_source_spark.kb.loader import load_kb
        from dr_source_spark.operators.triples import rule_coverage

        rules = kb_rules_df(spark, load_kb())
        triples = spark.createDataFrame(
            [
                ("repo:a.py@c#L2", "MATCHES_RULE", "SEC-GENERIC-001", 2, "", "r"),
                ("repo:a.py@c#L9", "MATCHES_RULE", "SEC-GENERIC-001", 9, "", "r"),
                ("repo:b.py@c#L4", "MATCHES_RULE", "SEC-GENERIC-001", 4, "", "r"),
                ("repo:b.py@c#L1", "MATCHES_RULE", "CFG-PY-DEBUG", 1, "", "r"),
                # non-MATCHES_RULE preds must not count
                ("repo:b.py@c", "HAS_VULN", "CWE-89", 1, "", "r"),
            ],
            "subj string, pred string, obj string, line int, trace string, run_id string",
        )
        out = {r["rule_id"]: r for r in rule_coverage(triples, rules).collect()}
        # the catalog side drives the row set: every identified regex rule
        assert len(out) == 29
        g = out["SEC-GENERIC-001"]
        assert g["n_matches"] == 3
        assert g["n_files"] == 2  # a.py twice collapses via #L-strip
        assert out["CFG-PY-DEBUG"]["n_matches"] == 1
        # a rule the planted triples never fired reports zeros, not absence
        silent = [r for r in out.values() if r["n_matches"] == 0]
        assert len(silent) == 27
        assert all(r["n_files"] == 0 for r in silent)
