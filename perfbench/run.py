"""KG-extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload small_files --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. One driver process runs
Spark at local[4] in a closed loop (one client; the next job starts only
after the previous one and its check finished). Inputs are generated from
the seed and written as parquet before any timing.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics for --trace 0 and the per-layer
metrics for --trace 1. The line before it holds the full record (samples,
quartiles, input properties, noise, digests), which is also written under
.perfbench_results/. Exit code 1 when an output check fails, 2 when the
package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
# timed jobs at least: a median of two; a traced run runs its jobs untraced,
# traced, traced, untraced, so that the warm-up trend of the first jobs
# cancels out of the tracing overhead
MIN_JOBS = 2
MIN_TRACED_RUN_JOBS = 4


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
    return {"n": len(xs), "q1": q[0], "median": statistics.median(xs), "q3": q[2]}


def _new_session(work: str, cores: int):
    from dr_source_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_all(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    child process (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _bytes_written_since(root: str, t0: float) -> int:
    """Bytes of the data files under ``root`` written at or after ``t0``."""
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            if st.st_mtime >= t0 and not f.startswith((".", "_")):
                total += st.st_size
    return total


def _job_layers(wl, spans: list[dict], execs: list[dict], result, sink_b: int) -> dict:
    """Per-layer numbers for one traced job."""
    from perfbench.trace import MB, layer_self_times

    m: dict = {}
    for s in spans:
        if s["parent"] is None:
            continue
        for layer, sec in layer_self_times(s, execs).items():
            m[f"{layer}.s"] = m.get(f"{layer}.s", 0.0) + sec
        if s["layer"] == "graph":
            m[s["name"] + "_s"] = s["end"] - s["start"]
    ops = [op for e in execs for op in e["ops"]]

    def total(name_prefix: str, metric: str) -> float:
        return sum(op["metrics"].get(metric, [0.0])[0] for op in ops if op["name"].startswith(name_prefix))

    arrow = [op for op in ops if op["name"] == "MapInArrow"]
    m["sources.rows"] = total("Scan parquet", "number of output rows")
    m["sources.mb"] = total("Scan parquet", "size of files read") / MB
    m["index.defs"] = total("MapInPandas", "number of output rows")
    m["index.broadcast_mb"] = total("MapInPandas", "data returned from Python workers") / MB
    m["detect.files_analyzed_per_file"] = sum(op.get("rows_in") or 0 for op in arrow) / wl.files_per_job
    m["detect.py_boot_s"] = total("MapInArrow", "time to start Python workers")
    m["detect.py_init_s"] = total("MapInArrow", "time to initialize Python workers")
    m["detect.py_run_s"] = total("MapInArrow", "time to run Python workers")
    m["detect.arrow_sent_mb"] = total("MapInArrow", "data sent to Python workers") / MB
    m["detect.arrow_recv_mb"] = total("MapInArrow", "data returned from Python workers") / MB
    # (total, min, med, max) of task Python time, for the busiest detector run
    runs = [r for r in (op["metrics"].get("time to run Python workers", []) for op in arrow)
            if len(r) == 4 and r[2] > 0]
    busiest = max(runs, default=None)
    m["detect.task_skew"] = busiest[3] / busiest[2] if busiest else 0.0
    # findings of one detector pass (the job may run the detector several times)
    m["detect.findings"] = total("MapInArrow", "number of output rows") / len(arrow) if arrow else 0.0
    stages = [s for e in execs for s in e["stages"]]
    m["triples.rows"] = result.counts.get("triples", 0)
    m["triples.nodes"] = result.counts.get("nodes", 0)
    m["triples.edges"] = result.counts.get("edges", 0)
    m["triples.shuffle_mb"] = sum(s["shuffle_write_b"] for s in stages if "MapInArrow" in s["names"]) / MB
    m["sink.mb"] = sink_b / MB
    for key, field in (("add_batch_ms", "addBatch"), ("latest_offset_ms", "latestOffset"),
                       ("wal_commit_ms", "walCommit"), ("planning_ms", "queryPlanning"),
                       ("trigger_ms", "triggerExecution")):
        m[f"streaming.{key}"] = float(sum(p.get(field, 0) for p in getattr(wl, "progress", [])))
    graph_stages = [s for e in execs for s in e["stages"]
                    if any(sp["layer"] == "graph" and sp["start"] <= e["start"] <= sp["end"] for sp in spans)]
    m["graph.shuffle_mb"] = sum(s["shuffle_write_b"] for s in graph_stages) / MB
    m["spark.sql_executions"] = float(len(execs))
    m["spark.shuffle_mb"] = sum(s["shuffle_write_b"] for s in stages) / MB
    m["spark.spill_mb"] = sum(s["spill_b"] for s in stages) / MB
    peaks = [op["metrics"].get("peak memory", [0.0])[0] for op in ops if op["name"] == "HashAggregate"]
    m["spark.agg_peak_mem_mb"] = max(peaks, default=0.0) / MB
    return m


def run(args, work: str) -> tuple[dict, dict]:
    from dr_source_spark.kb import compiled_kb_cached
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    t_imports = _process_age_s()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = WORKLOADS[args.workload](work)
    t = time.perf_counter()
    props = wl.generate(random.Random(f"{args.workload}/{args.seed}"))
    gen_s = time.perf_counter() - t

    ticks0, load0, probe0 = trace.cpu_ticks(), os.getloadavg(), trace.cpu_probe_s()
    problems, digests = [], set()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _new_session(work, CORES)
        compiled_kb_cached()
        ready = time.perf_counter() - t0
        # the base snapshot of commit_stream belongs to input generation
        t = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        out = wl.job(spark, trace.NoTracer())
        warm_s = time.perf_counter() - t
        setup_s = t_imports + ready + warm_s
        res = wl.check(spark, out)
        problems += res.problems
        digests.add(res.digest)

        metrics = trace.SparkMetrics(spark)
        walls, traced_walls, layer_recs, all_spans = [], [], [], []
        attempted = failed = 0
        job_digests = []
        i = 0
        while True:
            # the job expected to cross the time budget is the last one, and
            # its check also counts tier errors
            done, n_done = sum(walls) + sum(traced_walls), len(walls) + len(traced_walls)
            min_jobs = MIN_TRACED_RUN_JOBS if args.trace else MIN_JOBS
            last = n_done + 1 >= min_jobs and done + (done / n_done if n_done else warm_s) >= args.seconds
            traced = bool(args.trace) and i % 4 in (1, 2)
            tracer = trace.Tracer(f"{args.workload}-{args.seed}-{i}") if traced else trace.NoTracer()
            t_wall0 = time.time()
            t0 = time.perf_counter()
            with tracer.span("job", "job"):
                out = wl.job(spark, tracer)
            wall = time.perf_counter() - t0
            t_wall1 = time.time()
            res = wl.check(spark, out, tier_errors=last)
            attempted += res.attempted
            failed += res.failed
            problems += res.problems
            job_digests.append(res.digest)
            if traced:
                traced_walls.append(wall)
                execs = metrics.executions(t_wall0, t_wall1)
                sink_b = _bytes_written_since(wl.out, t_wall0)
                layer_recs.append(_job_layers(wl, tracer.spans, execs, res, sink_b))
                all_spans += tracer.spans
            else:
                walls.append(wall)
            i += 1
            if last:
                break
        rss_mb = trace.peak_rss_mb(trace.descendants(os.getpid()))

        scaling = None
        if args.trace and args.workload == "small_files":
            # one local[1] job against the local[4] median: N -> 4N cores
            spark.stop()
            spark = _new_session(work, 1)
            problems += wl.check(spark, wl.job(spark, trace.NoTracer())).problems
            t0 = time.perf_counter()
            out = wl.job(spark, trace.NoTracer())
            t1_s = time.perf_counter() - t0
            problems += wl.check(spark, out).problems
            scaling = {"local1_s": t1_s, "local4_s": statistics.median(walls),
                       "efficiency": t1_s / (4 * statistics.median(walls))}
        t_stop = _process_age_s()
    finally:
        if spark is not None:
            _stop_all(spark)

    if args.workload != "commit_stream":  # every commit changes other files
        digests.update(job_digests)
        if len(digests) > 1:
            problems.append(f"output digest differs between jobs: {sorted(digests)}")
    ticks1 = trace.cpu_ticks()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "cores": CORES, "nproc": os.cpu_count(), "closed_loop_clients": 1,
        "input": props, "input_gen_s": gen_s, "prepare_s": prepare_s,
        "setup_s": setup_s,
        "phases_s": {"imports": t_imports, "session": ready, "warm": warm_s,
                     "to_stop": t_stop, "end": _process_age_s()},
        "noise": {"host_steal_pct": trace.steal_pct(ticks0, ticks1),
                  "loadavg_start": load0, "loadavg_end": os.getloadavg(),
                  "cpu_probe_s": [probe0, trace.cpu_probe_s()]},
        "digests": job_digests[:8],
        "attempted": attempted, "failed": failed, "failed_frac": failed / max(attempted, 1),
        "problems": problems[:20],
    }
    med = statistics.median(walls)
    record["wall_s"] = dict(_quartiles(walls), samples=walls)
    record["files_per_s"] = wl.files_per_job / med
    if args.workload == "commit_stream":
        record["commit_p50_s"] = med
        # highest percentile with at least ten commits beyond it
        n = len(walls)
        record["commit_tail"] = (
            {"percentile": 100 * (n - 10) / n, "s": sorted(walls)[n - 11], "beyond": 10, "n": n}
            if n > 10 else {"percentile": None, "n": n, "note": "fewer than 11 commits"}
        )
    record["peak_rss_mb"] = rss_mb
    if args.trace:
        layers = {m["name"]: statistics.median(r.get(m["name"], 0.0) for r in layer_recs) for m in bench["per_layer"]}
        layers["trace.overhead_s"] = statistics.median(traced_walls) - med
        layers["scaling.efficiency_4x"] = scaling["efficiency"] if scaling else 0.0
        record["layers"] = layers
        record["traced_wall_s"] = _quartiles(traced_walls)
        record["scaling"] = scaling
        record["spans_file"] = _results_path(args, "spans.jsonl")
        trace.write_spans(all_spans, record["spans_file"])
        final = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        values = {"wall_s": med, "files_per_s": record["files_per_s"], "setup_s": setup_s}
        final = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    result = {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": final}
    return record, result


def _results_path(args, suffix: str) -> str:
    d = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-s{args.seed}-t{args.trace}.{suffix}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["small_files", "commit_stream", "kg_graph"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dr_source_spark")):
        print(f"perfbench: no dr_source_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    # keep every temporary file (package zip, Spark scratch) inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = work
    # every JVM spark-submit starts (its launcher too) writes no perf data
    # to /tmp and keeps its temporary files here as well
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(_results_path(args, "json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
