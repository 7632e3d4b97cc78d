#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root):

    python3 perfbench/spread.py --workloads mor_read dml_churn curate --seeds 1-10
    python3 perfbench/spread.py --workloads curate --seeds 11-15 --trace 1

For every metric it prints the median, the first and third quartiles
(Python's statistics.quantiles(values, n=4)) and the spread, (q3 - q1) /
median, next to the metric's bound from BENCHMARK.json. Raw results are
appended as JSON lines to .bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = os.path.join(REPO, ".bench_build", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for w in a.workloads:
        runs = []
        for s in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                      str(bench["run_seconds"]), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append(r)
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "trace": a.trace, **r}) + "\n")
        print(f"{w}: {len(runs)} runs, correct {sum(r['correct'] for r in runs)}, "
              f"failed/attempted {sorted({(r['failed'], r['attempted']) for r in runs})}")
        for name in runs[0]["metrics"] if runs else []:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name)
            print(f"  {name:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}" + (f"  bound {bound}" if bound is not None else ""))


if __name__ == "__main__":
    main()
