"""Gates for CDC MERGE classification (operators/merge.py): action
semantics (including delete-over-update precedence and NULL-safe change
detection) and the single-join plan shape."""

from dr_source_spark.operators.merge import classify_merge


def _tables(spark):
    existing = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (4, None), (5, 500)], "k long, v long"
    )
    batch = spark.createDataFrame(
        [
            (2, 250, False),   # changed -> update
            (3, 300, False),   # identical -> noop
            (4, None, False),  # NULL == NULL (null-safe) -> noop
            (5, 599, True),    # flagged -> delete, even though value changed
            (9, 900, False),   # unknown key -> insert
        ],
        "k long, v long, is_delete boolean",
    )
    return existing, batch


def test_classify_actions(spark):
    existing, batch = _tables(spark)
    got = {r.k: (r.action, r.old_v, r.new_v) for r in classify_merge(existing, batch, "k", ["v"], "is_delete").collect()}
    assert got == {
        2: ("update", 200, 250),
        3: ("noop", 300, 300),
        4: ("noop", None, None),
        5: ("delete", 500, 599),
        9: ("insert", None, 900),
    }
    # key 1 is untouched (absent from the batch): no census row
    assert 1 not in got


def test_classify_single_join_no_nested_loop(spark, tmp_path):
    ep, bp = str(tmp_path / "e"), str(tmp_path / "b")
    existing, batch = _tables(spark)
    existing.write.parquet(ep)
    batch.write.parquet(bp)
    df = classify_merge(
        spark.read.parquet(ep), spark.read.parquet(bp), "k", ["v"], "is_delete"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") == 1 and "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
