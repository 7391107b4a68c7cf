"""Single-node throughput anchor: the reference's runnable tiers (regex +
Python AST; its tree-sitter tiers can't run here) executed sequentially the
way its Scanner does, vs this engine's fused detector stage on the SAME
corpus at local[1] (apples-to-apples single-core) and local[32].

Usage: python tools/reference_anchor.py [--sf /root/testdata/sf0.01] [--copies 4]
Appends the result table to BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STUBS = "/tmp/refstubs"


def ensure_stubs() -> None:
    os.makedirs(STUBS, exist_ok=True)
    stubs = {
        "platformdirs.py": "import os\ndef user_config_dir(app): return os.path.join('/tmp/nonexistent_config', app)\n",
        "tqdm.py": "def tqdm(it, **kw): return it\n",
        "tree_sitter.py": (
            "class Node: pass\nclass Tree: pass\n"
            "class Language:\n    def __init__(self, *a, **k): raise RuntimeError('unavailable')\n"
            "class Parser:\n    def __init__(self, *a, **k): pass\n"
            "    def parse(self, *a, **k): raise RuntimeError('unavailable')\n"
        ),
    }
    for m in ("tree_sitter_javascript", "tree_sitter_java", "tree_sitter_php", "tree_sitter_ruby"):
        stubs[m + ".py"] = "def language(): raise RuntimeError('unavailable')\ndef language_php(): raise RuntimeError('unavailable')\n"
    for name, body in stubs.items():
        with open(os.path.join(STUBS, name), "w") as f:
            f.write(body)


def materialize_corpus(sf: str, copies: int) -> str:
    """Write the synthetic corpus to real files (the reference reads paths).

    Only .py and .ini files are kept: the comparison must be the SAME
    computation — the reference's tree-sitter tiers can't run here, so it
    would silently skip java/js/php/ruby AST work that our engine performs.
    """
    out = tempfile.mkdtemp(prefix="anchor_corpus_")
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
import os
from dr_source_spark.session import get_spark
from dr_source_spark.sources.synth import synth_code_corpus
spark = get_spark(master="local[8]")
docs = spark.read.parquet({sf!r} + "/documents.parquet")
rows = synth_code_corpus(docs, copies={copies}).filter(
    "path like '%.py' or path like '%.ini'").collect()
for r in rows:
    p = os.path.join({out!r}, r.repo, r.path)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        f.write(r.content)
print(len(rows))
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], check=True, capture_output=True, text=True, cwd="/tmp")
    return out


def run_reference(corpus_dir: str) -> dict:
    """Sequential per-file loop, fresh-plugin-per-run like the reference CLI."""
    code = f"""
import sys, os, time, json
sys.path.insert(0, {STUBS!r}); sys.path.insert(0, "/root/reference")
from dr_source.plugins.regex.plugin import RegexAnalyzer
from dr_source.plugins.python.plugin import PythonAstAnalyzer
regex = RegexAnalyzer(); pyast = PythonAstAnalyzer()
files = []
for dp, _d, fs in os.walk({corpus_dir!r}):
    for fn in fs:
        files.append(os.path.join(dp, fn))
t0 = time.monotonic(); found = 0
for fp in files:
    found += len(regex.analyze(fp))
    if fp.endswith(".py"):
        found += len(pyast.analyze(fp))
dt = time.monotonic() - t0
print(json.dumps({{"files": len(files), "findings": found, "sec": round(dt, 2),
                   "files_per_sec": round(len(files) / dt, 1)}}))
"""
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp")
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_ours(corpus_dir: str, cores: int) -> dict:
    code = f"""
import sys, time, json
sys.path.insert(0, {REPO!r})
from dr_source_spark.session import get_spark
from dr_source_spark.kb import load_kb, compile_kb
from dr_source_spark.operators.analyze import run_detectors
from dr_source_spark.sources.corpus import corpus_from_dir, ingest_source_files
spark = get_spark(master="local[{cores}]", shuffle_partitions={cores})
files = ingest_source_files(corpus_from_dir(spark, {corpus_dir!r})).persist()
n = files.count()
ckb = compile_kb(load_kb(project_dir="/nonexistent"))
run_detectors(files.limit(32), ckb).count()  # warm
t0 = time.monotonic()
found = run_detectors(files, ckb).count()
dt = time.monotonic() - t0
print(json.dumps({{"files": n, "findings": found, "sec": round(dt, 2),
                   "files_per_sec": round(n / dt, 1)}}))
spark.stop()
"""
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp")
    for ln in reversed(out.stdout.strip().splitlines()):
        if ln.startswith("{"):
            return json.loads(ln)
    raise RuntimeError(out.stderr[-2000:])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--copies", type=int, default=4)
    args = ap.parse_args()

    ensure_stubs()
    corpus = materialize_corpus(args.sf, args.copies)
    ref = run_reference(corpus)
    ours1 = run_ours(corpus, 1)
    ours32 = run_ours(corpus, 32)

    table = f"""
## Single-node anchor vs reference (same computation: regex + Python AST)

Corpus: {ref['files']} .py/.ini files (synthetic corpus from
documents@{args.sf} × {args.copies}, restricted to the file types BOTH
engines fully analyze — the reference's other tiers need tree-sitter,
absent here). Reference: its own sequential per-file loop, plugins
constructed once (its CLI re-reads the KB per plugin; being generous).

| engine | config | files | findings | sec | files/sec |
|---|---|---|---|---|---|
| reference (dr_source) | single process | {ref['files']} | {ref['findings']} | {ref['sec']} | {ref['files_per_sec']} |
| dr_source_spark | local[1] | {ours1['files']} | {ours1['findings']} | {ours1['sec']} | {ours1['files_per_sec']} |
| dr_source_spark | local[32] | {ours32['files']} | {ours32['findings']} | {ours32['sec']} | {ours32['files_per_sec']} |

Speedup vs reference: {round(ours1['files_per_sec']/ref['files_per_sec'], 2)}x at 1 core, {round(ours32['files_per_sec']/ref['files_per_sec'], 2)}x at 32 cores.
"""
    with open(f"{REPO}/BENCH/ANCHOR_RAW.md", "a") as f:
        f.write(table)
    print(json.dumps({"reference": ref, "ours_1core": ours1, "ours_32core": ours32}))


if __name__ == "__main__":
    main()
