#!/usr/bin/env python3
"""The benchmark's self-test, on short runs of small query subsets.

  python3 perfbench/selftest.py      # from the checkout root; exit 0 = pass

Checks that
  - an untraced run prints every end-to-end metric of BENCHMARK.json with
    its unit, and a traced run every per-layer metric;
  - the traced run's trace holds a span for each layer;
  - a query made to throw, and a query made to dump a wrong result, each
    count as failed runs and make the result incorrect.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYER_SPANS = ["setup", "GraftSession.getOrCreate", "setup.warmup", "pass", "query",
               "queries.build", "sources.save", "catalyst.optimization",
               "catalyst.planning", "dispatch.job", "operators.stage", "streaming.batch"]
SEED = 7


def run(workload, queries, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--queries", queries, *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect(cond, what):
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    return bool(cond)


def units(result, wanted):
    return all(result["metrics"].get(m["name"], {}).get("unit") == m["unit"] for m in wanted) \
        and set(result["metrics"]) == {m["name"] for m in wanted}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    good = []

    r = run("interactive_sf001", "q1_pricing_summary,tx_lang_id", 0)
    good.append(expect(r["correct"] and r["failed"] == 0, "clean run is correct"))
    good.append(expect(units(r, bench["end_to_end"]), "every end-to-end metric, with its unit"))

    r = run("interactive_sf001", "q1_pricing_summary,st_windowed_counts", 1)
    good.append(expect(r["correct"], "traced run is correct"))
    good.append(expect(units(r, bench["per_layer"]), "every per-layer metric, with its unit"))
    with open(os.path.join(ROOT, ".bench_build", "traces", f"interactive_sf001-s{SEED}.json")) as f:
        names = {s["name"] for s in json.load(f)["spans"]}
    missing = [n for n in LAYER_SPANS if n not in names]
    good.append(expect(not missing, f"a span for each layer (missing: {missing})"))

    r = run("interactive_sf001", "q1_pricing_summary,tx_lang_id", 1,
            "--inject-throw", "tx_lang_id")
    good.append(expect(not r["correct"] and r["failed"] >= 2 and
                       r["metrics"]["fail_frac"]["value"] > 0,
                       "a throwing query raises fail_frac"))

    r = run("interactive_sf001", "q1_pricing_summary,tx_lang_id", 1,
            "--inject-wrong", "q1_pricing_summary")
    good.append(expect(not r["correct"] and r["failed"] == 1 and
                       r["metrics"]["fail_frac"]["value"] > 0,
                       "a wrong result raises fail_frac"))
    return 0 if all(good) else 1


if __name__ == "__main__":
    sys.exit(main())
