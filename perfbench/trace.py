"""Tracing for the benchmark: wall-clock spans recorded by the benchmark
around its own calls into the package, Spark's SQL and stage metrics read
back from the session's status stores, and /proc readings.

Reading the status stores happens after a job has finished, so tracing adds
no work inside a timed job; it only adds the span bookkeeping.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

MB = 2**20

# Operator whose presence decides which layer a stage's wall time belongs to,
# checked in this order. Stages are pipelined, so a stage running the
# detector UDF also runs the explode that feeds triples; the Python UDFs
# dominate such stages, which is why they win.
_STAGE_RULES = (
    ("MapInArrow", "detect"),
    ("MapInPandas", "index"),
)


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id and layer."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {"name": name, "layer": layer, "run": self.run_id, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def write_spans(spans: list[dict], path: str) -> None:
    """Spans as JSON lines; ``parent`` indexes the span list of the same run."""
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")


class NoTracer:
    """Stand-in with the Tracer interface that records nothing."""

    @contextmanager
    def span(self, name: str, layer: str):
        yield None


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


def parse_metric(text: str) -> list[float]:
    """A formatted SQL metric -> [total] or [total, min, med, max], in
    seconds, bytes or counts ("total (min, med, max (stageId: taskId))\\n
    1.7 s (377 ms, 470 ms, 479 ms (stage 72.0: task 166))")."""
    body = text.split("\n")[-1].split("(stage")[0]
    return [float(v.replace(",", "")) * _UNITS.get(u, 1.0) for v, u in _VALUE.findall(body)]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _cluster_names(cluster, out: set) -> set:
    out.add(cluster.name())
    children = cluster.childClusters()
    for i in range(children.size()):
        _cluster_names(children.apply(i), out)
    return out


_PLAN_NODES = ("MapInArrow", "MapInPandas", "Scan parquet", "HashAggregate")


class SparkMetrics:
    """Reads executions, their stages and plan-operator metrics from the
    SQL and application status stores (populated with the UI disabled)."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def executions(self, t0: float, t1: float) -> list[dict]:
        """Executions submitted in [t0, t1] (epoch seconds), oldest first."""
        out = []
        it = self.sql.executionsList().reverseIterator()
        while it.hasNext():
            e = it.next()
            sub = e.submissionTime() / 1000.0
            if sub < t0:
                break
            if sub > t1:
                continue
            eid = e.executionId()
            out.append({"id": eid, "start": sub, "end": _opt_ms(e.completionTime()),
                        "stages": self._stages(e.stages()), "ops": self._plan_ops(eid)})
        return out[::-1]

    def _stages(self, ids) -> list[dict]:
        stages = []
        it = ids.iterator()
        while it.hasNext():
            sid = it.next()
            s = self.app.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue
            stages.append({
                "id": sid,
                "start": _opt_ms(s.submissionTime()),
                "end": _opt_ms(s.completionTime()),
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "names": sorted(_cluster_names(self.app.operationGraphForStage(sid).rootCluster(), set())),
            })
        return stages

    def _plan_ops(self, eid: int) -> list[dict]:
        """Metrics of the plan operators the layer metrics read, with the row
        count entering each (from the nearest child that reports rows)."""
        graph = self.sql.planGraph(eid)
        values = self.sql.executionMetrics(eid)
        nodes = graph.allNodes()
        by_id, wanted = {}, []
        for i in range(nodes.size()):
            n = nodes.apply(i)
            by_id[n.id()] = n
            if n.name().startswith(_PLAN_NODES):
                wanted.append(n)
        children: dict = {}
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            children.setdefault(e.toId(), []).append(e.fromId())

        def metrics(n) -> dict:
            ms, out = n.metrics(), {}
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[m.name()] = parse_metric(v.get())
            return out

        def rows_in(nid, depth=0):
            for c in children.get(nid, []):
                m = metrics(by_id[c])
                for key in ("number of output rows", "records read"):
                    if key in m:
                        return m[key][0]
                if depth < 4:
                    got = rows_in(c, depth + 1)
                    if got is not None:
                        return got
            return None

        ops = []
        for n in wanted:
            rec = {"name": n.name(), "metrics": metrics(n)}
            if n.name().startswith("MapIn"):
                rec["rows_in"] = rows_in(n.id())
            ops.append(rec)
        return ops


def stage_layer(names: list[str], fallback: str) -> str:
    for op, layer in _STAGE_RULES:
        if op in names:
            return layer
    if fallback != "graph" and any(n.startswith(("Scan ", "InMemoryTableScan")) for n in names):
        # reading the input (or its cache) and shuffling it to the detector
        return "sources"
    if fallback == "sink" and any(n.startswith("AQEShuffleRead") for n in names):
        # post-shuffle distinct of nodes/edges, written in the same stage
        return "triples"
    return fallback


def layer_self_times(span: dict, execs: list[dict]) -> dict:
    """Split one span's wall time among layers: each instant covered by a
    stage goes to that stage's layer (highest rule first when stages
    overlap); instants no stage covers (planning, driver-side collects and
    commits) go to the span's own layer."""
    t0, t1 = span["start"], span["end"]
    marks = []
    for e in execs:
        for s in e["stages"]:
            if s["start"] is None or s["end"] is None:
                continue
            a, b = max(s["start"], t0), min(s["end"], t1)
            if b > a:
                marks.append((a, b, stage_layer(s["names"], span["layer"])))
    order = {layer: i for i, (_op, layer) in enumerate(_STAGE_RULES)}
    order.update({"sources": 10, "triples": 11})
    points = sorted({t0, t1, *[m[0] for m in marks], *[m[1] for m in marks]})
    out: dict = {}
    for a, b in zip(points, points[1:]):
        covering = [m[2] for m in marks if m[0] <= a and m[1] >= b]
        layer = min(covering, key=lambda x: order.get(x, 99)) if covering else span["layer"]
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: the speed of the box at that
    moment. Host slowdowns that steal % does not show (shared caches and
    memory bandwidth) show here."""
    t0, x = time.perf_counter(), 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


def _children_map() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes: the JVM
    and the Python workers it forked."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
