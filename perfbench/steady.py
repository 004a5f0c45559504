#!/usr/bin/env python3
"""Steadiness check: the benchmark's spread across seeds, as the bounds use it.

  python3 perfbench/steady.py --workloads a,b --seeds 1-10 [--trace 0]

Runs perfbench/run.py once per (workload, seed) with BENCHMARK.json's
run_seconds, then prints, per workload and end-to-end metric, the median
and the quartile spread (Q3 - Q1 of statistics.quantiles(values, n=4))
as a share of the median, next to the metric's bound. Raw result lines
go to .bench_build/steady/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    out_dir = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl in args.workloads.split(","):
        results = []
        with open(os.path.join(out_dir, f"{wl}.jsonl"), "a") as log:
            for seed in seeds(args.seeds):
                p = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
                res = json.loads(line) if p.returncode == 0 else {}
                log.write(json.dumps({"seed": seed, "rc": p.returncode, **res}) + "\n")
                results.append(res)
                print(f"{wl} seed {seed}: rc={p.returncode} correct={res.get('correct')}",
                      file=sys.stderr, flush=True)
        ok = [r for r in results if r.get("metrics")]
        for name in (ok[0]["metrics"] if ok else []):
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            print(f"{wl:20s} {name:24s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds.get(name)}  n={len(vals)}")


if __name__ == "__main__":
    main()
