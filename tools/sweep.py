"""One sweep over the query registry (``__spark_entry__.queries()``).

Every mode runs each selected query inside its own Spark job group under a
watchdog that cancels it after ``--timeout`` seconds, so one runaway query
cannot wedge the sweep. Output is one JSON line per query
(``query, mode, status, sec, rows`` plus the mode's fields), then one JSON
summary line; the exit code is 1 when any query is not ``ok``. Each query
line also carries ``jvm_rss_mb``: the driver JVM's resident set (VmRSS in
``/proc/<pid>/status``) after the query, ``null`` once the JVM is gone.

Modes:

* ``oracle``  — run the query on Spark and its ``oracle_sql()`` in DuckDB;
  compare sorted column names, row counts, cell values (exact; floats to
  1e-12) and column types (Spark SQL type vs DuckDB result type under
  ``duck_type``).
* ``codegen`` — re-run ``oracle`` mode in a child process and attribute
  every whole-stage-codegen compile failure (``ERROR CodeGenerator ...
  Failed to compile``, which Spark logs before silently interpreting the
  stage) to the query in flight.
* ``plan``    — the formatted physical plan's Exchange / parquet-scan
  counts, the Arrow-batch nodes, the anti-patterns (row-at-a-time Python
  UDFs, CartesianProduct) and the build-side class of every
  BroadcastNestedLoopJoin (``classify_build``).
* ``time``    — materialize (count) the query at ``--sf``.

Usage: python tools/sweep.py --mode oracle|codegen|plan|time [--sf DIR]
           [--only NAME ...] [--timeout SEC]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, else the sf0.01 test tables;
the session uses ``$SPARK_GRAFT_CPUS`` cores, else every core.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROW_WISE_UDF = ("BatchEvalPython", "ArrowEvalPython")
ARROW_BATCH = ("PythonMapInArrow", "MapInPandas", "FlatMapGroupsInPandas")


# -- oracle -----------------------------------------------------------------

_DUCK_TYPES = {
    "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INTEGER", "bigint": "BIGINT",
    "float": "FLOAT", "double": "DOUBLE", "string": "VARCHAR", "boolean": "BOOLEAN",
    "binary": "BLOB", "date": "DATE", "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
}


def duck_type(dt) -> str:
    """The DuckDB result type an oracle column must have to match a Spark
    column of SQL type ``dt``."""
    from pyspark.sql.types import ArrayType, DecimalType

    if isinstance(dt, ArrayType):
        return duck_type(dt.elementType) + "[]"
    if isinstance(dt, DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    return _DUCK_TYPES.get(dt.simpleString(), dt.simpleString())


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _oracle_diff(sdf, odf) -> str | None:
    """First cell-level difference between two result frames, or None."""
    a, b = _norm(sdf), _norm(odf)
    if list(a.columns) != list(b.columns):
        return f"cols {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            close = abs(av.astype(float) - bv.astype(float)) < 1e-12
            if not ((av.isna() & bv.isna()) | close).all():
                return f"col {c} float mismatch"
        elif not (av.astype(str) == bv.astype(str)).all():
            i = (av.astype(str) != bv.astype(str)).idxmax()
            return f"col {c} mismatch at {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def _run_oracle(con, sql: str, df) -> dict:
    rel = con.sql(sql)
    want = dict(zip(rel.columns, (str(t) for t in rel.types)))
    dtypes = [
        f"{f.name}: {duck_type(f.dataType)} vs {want[f.name]}"
        for f in df.schema.fields
        if f.name in want and duck_type(f.dataType) != want[f.name]
    ]
    sdf = df.toPandas()
    diff = _oracle_diff(sdf, rel.df())
    rec = {"rows": len(sdf), "status": "ok" if diff is None and not dtypes else "fail"}
    if diff:
        rec["err"] = diff
    if dtypes:
        rec["dtypes"] = dtypes
    return rec


# -- plan -------------------------------------------------------------------

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


def classify_build(build) -> str:
    """Class of a BroadcastNestedLoopJoin build side. A BNLJ is the
    sanctioned way to attach a one-row global aggregate (``scalar``), a
    bounded literal / limit / small range (``limited``) or a literal
    IN-list probe set (``probe-list``) to a big side; a grouped aggregate
    build is ``keyed(...)`` with its keys shown for a human check; anything
    else is ``REVIEW`` — a possible nested loop between two unbounded
    relations."""
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
            return "probe-list"
    for n in _walk(build):
        if n.nodeName() in ("HashAggregate", "SortAggregate"):
            keys = n.groupingExpressions().mkString(", ")
            return f"keyed({keys[:60]})"
    return "REVIEW: " + " <- ".join(n.nodeName() for n in list(_walk(build))[:6])


def bnlj_builds(plan):
    """(join node, build-side child) for every BroadcastNestedLoopJoin in a
    physical plan."""
    for node in _walk(plan):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        kids = _children(node)
        build_right = "BuildRight" in node.buildSide().toString()
        yield node, kids[1] if build_right else kids[0]


def _run_plan(spark, df) -> dict:
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    bnlj = [classify_build(b) for _n, b in bnlj_builds(qe.executedPlan())]
    flags = [b for b in (*ROW_WISE_UDF, "CartesianProduct") if b in plan]
    flags += ["BNLJ-REVIEW"] if any(c.startswith("REVIEW") for c in bnlj) else []
    return {
        "rows": None,
        "status": "flagged" if flags else "ok",
        "exchanges": plan.count("Exchange"),
        "scans": plan.count("Scan parquet"),
        "pushed_filter_scans": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "arrow_batch_nodes": sum(plan.count(a) for a in ARROW_BATCH),
        "flags": flags,
        "bnlj": bnlj,
    }


# -- the sweep --------------------------------------------------------------

def _rss_mb(pid: int) -> float | None:
    """VmRSS of process ``pid`` in MB, or None when it cannot be read."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return None


def sweep(spark, mode: str, sf: str, only=None, timeout: float = 300.0):
    """Yield one record per selected registry query (oracle/plan/time)."""
    import __spark_entry__ as E

    qs = E.queries()
    unknown = sorted(set(only or ()) - set(qs))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    names = [n for n in qs if not only or n in only]
    con = None
    if mode == "oracle":
        import duckdb

        oracle = E.oracle_sql()
        con = duckdb.connect()
        for path in sorted(glob.glob(f"{sf}/*.parquet")):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    for i, name in enumerate(names):
        group = f"sweep_{i}_{name}"
        sc.setJobGroup(group, name, interruptOnCancel=True)
        timed_out = threading.Event()

        def cancel(g=group):
            timed_out.set()
            sc.cancelJobGroup(g)
            if con is not None:
                con.interrupt()

        timer = threading.Timer(timeout, cancel)
        timer.start()
        t0 = time.monotonic()
        try:
            df = qs[name](spark, sf)
            if mode == "oracle":
                rec = _run_oracle(con, oracle[name], df)
            elif mode == "plan":
                rec = _run_plan(spark, df)
            else:
                rec = {"rows": df.count(), "status": "ok"}
        except Exception as ex:  # noqa: BLE001 — the sweep must survive failures
            status = "timeout" if timed_out.is_set() else f"error:{type(ex).__name__}"
            rec = {"rows": None, "status": status, "err": " ".join(str(ex).split())[:300]}
        finally:
            timer.cancel()
            sc.setJobGroup(None, None)
        sec = round(time.monotonic() - t0, 2)
        yield {"query": name, "mode": mode, "sec": sec, "jvm_rss_mb": _rss_mb(jvm_pid), **rec}


def _codegen(args):
    """Re-run oracle mode in a child with stderr merged into stdout; the JVM
    logs a compile failure before the query's record line."""
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "oracle", "--sf", args.sf,
           "--timeout", str(args.timeout)] + (["--only", *args.only] if args.only else [])
    pending = 0
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True) as proc:
        for raw in proc.stdout:
            for line in raw.replace("\r", "\n").split("\n"):
                if "ERROR CodeGenerator" in line and "Failed to compile" in line:
                    pending += 1
                elif '{"query"' in line:  # a progress bar may precede it
                    rec = json.loads(line[line.index('{"query"'):])
                    rec.update(mode="codegen", codegen_failures=pending)
                    if pending and rec["status"] == "ok":
                        rec["status"] = "codegen-fallback"
                    pending = 0
                    yield rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--mode", required=True, choices=("oracle", "codegen", "plan", "time"))
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", nargs="+")
    ap.add_argument("--timeout", type=float, default=300.0)
    args = ap.parse_args()

    spark = None
    if args.mode == "codegen":
        records = _codegen(args)
    else:
        from dr_source_spark.session import get_spark

        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
        spark = get_spark(app_name=f"sweep_{args.mode}", master=f"local[{cpus}]")
        records = sweep(spark, args.mode, args.sf, args.only, args.timeout)
    t0 = time.monotonic()
    n, not_ok = 0, []
    for rec in records:
        n += 1
        if rec["status"] != "ok":
            not_ok.append(rec["query"])
        print(json.dumps(rec), flush=True)
    print(json.dumps({"summary": args.mode, "sf": args.sf, "queries": n, "ok": n - len(not_ok),
                      "not_ok": not_ok, "sec": round(time.monotonic() - t0, 1)}), flush=True)
    if spark is not None:
        spark.stop()
    sys.exit(1 if not_ok or not n else 0)


if __name__ == "__main__":
    main()
