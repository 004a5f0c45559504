#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. It builds the program (perfbench/build.py,
once per source state), generates the workload's inputs from the seed
(perfbench/gen.py), runs the closed-loop harness (one JVM: a cold
set-up, an untimed check pass, warm passes, timed passes for
--seconds), compares every check result with its oracle
(perfbench/oracle.py), and prints the metrics as the last line of
stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 attaches the
per-layer listeners, prints the per-layer metrics and writes the span
trace to .bench_build/traces/<workload>-s<seed>.json.

Everything it writes stays under .bench_build/ in the checkout; the
program itself keeps its streaming stages and checkpoints where it
always does.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_build")
CORES = os.cpu_count()  # DuckDB threads for the oracle check
DEADLINE_S = 165  # after the build: a run must end within 180 s
JVM_OPTS = [
    # Spark on JDK 17 outside spark-submit (as build.sbt's javaOptions)
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")],
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=1g",
    "-Xmx3g",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def inputs(seed, copies):
    """The seeded input dir, generated once per (seed, copies, generator)."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(gen.BASE)) + [gen.__file__]:
        with open(os.path.join(gen.BASE, f), "rb") as fh:
            h.update(os.path.basename(f).encode() + hashlib.sha256(fh.read()).digest())
    d = os.path.join(WORK, "data", f"x{copies}-s{seed}-{h.hexdigest()[:10]}")
    if not os.path.isfile(os.path.join(d, "_inputs.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, copies)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def run_harness(classes, jars, wl, data, work, args, deadline):
    out = os.path.join(work, "harness.json")
    trace_file = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Harness",
           "--data", data, "--queries", ",".join(args.queries or wl["queries"]),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
           "--check-dir", os.path.join(work, "check"), "--trace-file", trace_file,
           "--warehouse", os.path.join(work, "warehouse"),
           "--inject-throw", args.inject_throw or "", "--inject-wrong", args.inject_wrong or ""]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    errlog = os.path.join(work, "harness.log")
    with open(errlog, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, env=env, cwd=work)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness ran past the deadline")
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.isfile(out):
        with open(errlog) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f), trace_file


def metrics(doc, trace, trace_file):
    passes = doc["passes"]
    samples = [q["build_ms"] + q["save_ms"] for p in passes for q in p["queries"] if q["ok"]]
    if not samples:
        raise RuntimeError("no query succeeded in any timed pass")
    if trace:
        m = layers.per_layer(doc, samples, trace_file)
    else:
        m = {
            # one cold sample: repeating set-up in the same JVM only
            # re-creates a warm session, and a JVM per sample costs
            # more than a run can spend
            "setup_s": ((doc["setup"]["session_ms"] + doc["setup"]["warmup_ms"]) / 1000, "s"),
            "pass_s": (statistics.median(p["wall_ms"] for p in passes) / 1000, "s"),
            "cpu_s": (statistics.median(p["cpu_ms"] for p in passes) / 1000, "s"),
            # the first min_passes only: a faster program fits more passes
            # into --seconds, and every pass leaves a little behind
            "live_heap_mb": (max(p["live_heap_mb"] for p in passes[:doc["min_passes"]]), "MB"),
        }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks (perfbench/selftest.py): a query subset, and a
    # query made to throw or to dump a wrong result
    ap.add_argument("--queries", type=lambda s: s.split(","))
    ap.add_argument("--inject-throw")
    ap.add_argument("--inject-wrong")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload]
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    deadline = time.time() + DEADLINE_S
    data = inputs(args.seed, wl["copies"])
    work = os.path.join(WORK, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        doc, trace_file = run_harness(classes, jars, wl, data, work, args, deadline)
        check_dir = os.path.join(work, "check")
        with open(os.path.join(check_dir, "oracle.json")) as f:
            spec = json.load(f)
        ran = [c["query"] for c in doc["check"] if c["ok"]]
        t_check = time.time()
        bad = oracle.check(data, check_dir, ran, spec["oracle"], spec["floors"],
                           threads=CORES)
        for name, why in sorted(bad.items()):
            log(f"WRONG {name}: {why}")
        log(f"set-up {(doc['setup']['session_ms'] + doc['setup']['warmup_ms']) / 1000:.1f} s, "
            f"check pass {sum(c['ms'] for c in doc['check']) / 1000:.1f} s, "
            f"warm passes {[round(w / 1000, 2) for w in doc['warm_ms']]} s, "
            f"timed passes {[round(p['wall_ms'] / 1000, 2) for p in doc['passes']]} s, "
            f"oracle check {time.time() - t_check:.1f} s")
        runs = doc["check"] + [q for p in doc["passes"] for q in p["queries"]]
        attempted = len(runs)
        failed = sum(1 for r in runs if not r["ok"]) + len(bad)
        doc["fail_frac"] = failed / attempted
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics(doc, args.trace == 1, trace_file)}
    except RuntimeError as e:
        log(str(e))
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
