"""tools/sweep.py run in process against the session: oracle mode checks
cell values and column types, plan mode classifies BNLJ build sides."""

from tools.sweep import sweep

SF = "/root/testdata/sf0.001"


def test_oracle_mode_values_and_dtypes(spark):
    only = ["q1_pricing_summary", "events_value_histogram", "emb_pca_explained"]
    recs = list(sweep(spark, "oracle", SF, only=only))
    assert sorted(r["query"] for r in recs) == sorted(only)
    for r in recs:
        assert r["status"] == "ok" and r["rows"], r


def test_plan_mode_bnlj_builds_are_scalar(spark):
    (rec,) = sweep(spark, "plan", SF, only=["kg_neighbor_jaccard_topk"])
    assert rec["status"] == "ok", rec
    assert rec["bnlj"] and set(rec["bnlj"]) == {"scalar"}, rec
