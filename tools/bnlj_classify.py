"""Classify every BroadcastNestedLoopJoin the registry-wide plan audit
flagged (tools/plan_audit.py): a BNLJ is the sanctioned way to attach a
broadcast SCALAR (one-row global aggregate), a bounded literal/limit/enum
grid, or an explicitly limited probe set to a big side — O(n) work — while
a BNLJ between two unbounded relations is the anti-pattern the guide bans.

Walks the REAL physical-plan tree (py4j), finds each
BroadcastNestedLoopJoin node, takes its build-side child (from the node's
buildSide) and classifies the build subtree:

  * scalar      — a grouping-free aggregate anywhere on the spine
  * limited     — TakeOrderedAndProject / GlobalLimit / Range(<=10k) /
                  LocalTableScan (literal VALUES)
  * enum-keyed  — aggregate keyed only on a low-cardinality category
                  column (event_type/cat/bucket/bin/cut...) — bounded by
                  the value domain, flagged for eyeball confirmation
  * REVIEW      — anything else; subtree head printed

Usage: python tools/bnlj_classify.py QUERY [QUERY...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _walk(node):
    yield node
    nm = node.nodeName()
    if nm == "AdaptiveSparkPlan":
        yield from _walk(node.inputPlan())
        return
    if nm in ("QueryStage", "BroadcastQueryStage", "ShuffleQueryStage"):
        yield from _walk(node.plan())
        return
    for c in _children(node):
        yield from _walk(c)


def _subtree_names(node):
    return [n.nodeName() for n in _walk(node)]


def classify_build(build) -> str:
    names = _subtree_names(build)
    for n in _walk(build):
        nm = n.nodeName()
        if nm in ("HashAggregate", "SortAggregate", "ObjectHashAggregate"):
            try:
                if n.groupingExpressions().isEmpty():
                    return "scalar"
            except Exception:  # noqa: BLE001
                pass
        if nm in ("TakeOrderedAndProject", "GlobalLimit", "LocalTableScan", "CommandResult"):
            return "limited"
        if nm == "Range":
            m = re.search(r"Range \(\d+, (\d+)", n.simpleString(10))
            if m and int(m.group(1)) <= 10000:
                return "limited"
    for n in _walk(build):
        if n.nodeName() == "Filter" and " IN " in n.simpleString(40):
            # literal IN-list probe set (e.g. the ANN query vectors)
            return "probe-list"
    # grouped aggregate on the spine -> keyed build; report the keys
    for n in _walk(build):
        if n.nodeName() in ("HashAggregate", "SortAggregate"):
            keys = n.groupingExpressions().mkString(", ")
            return f"keyed({keys[:60]})"
    return "REVIEW: " + " <- ".join(names[:6])


def bnlj_builds(plan):
    """(join node, build-side child) for every BroadcastNestedLoopJoin in a
    physical plan."""
    for node in _walk(plan):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        kids = _children(node)
        build_right = "BuildRight" in node.buildSide().toString()
        yield node, kids[1] if build_right else kids[0]


def main() -> None:
    from dr_source_spark.session import get_spark

    import __spark_entry__ as E

    names = sys.argv[1:]
    spark = get_spark(app_name="bnlj_classify", master="local[8]", shuffle_partitions=8)
    qs = E.queries()
    tally: dict[str, int] = {}
    for name in names:
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan()
        found = False
        for node, build in bnlj_builds(plan):
            found = True
            verdict = classify_build(build)
            joint = node.joinType().toString()
            print(f"{name:36s} {joint:10s} {verdict}")
            key = verdict.split("(")[0].split(":")[0]
            tally[key] = tally.get(key, 0) + 1
        if not found:
            print(f"{name:36s} (no BNLJ in executed plan)")
    print("\ntally:", tally)
    spark.stop()


if __name__ == "__main__":
    main()
