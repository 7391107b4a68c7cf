"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload small_files --seeds 1-10 [--seconds 6]

Runs perfbench/run.py once per seed, one after another, from the checkout
root, and prints for each end-to-end metric its median and the distance
between the first and third quartile (statistics.quantiles(values, n=4))
as a share of the median. The per-run results are appended as JSON lines to
.perfbench_results/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    out_path = os.path.join(ROOT, ".perfbench_results", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    values: dict = {}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        with open(out_path, "a") as f:
            f.write(json.dumps({"seed": seed, "result": result, "record": json.loads(lines[-2])}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, xs in values.items():
        q1, _q2, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med
        print(f"{name}: median {med:.4g}  iqr/median {spread:.3f}  bound {bounds.get(name)}  "
              f"{'ok' if spread < bounds.get(name, 1) / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
