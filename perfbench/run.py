#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <llm_dataprep|table_maintain>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the repository and the benchmark
driver (perfbench/build.sbt) when their sources changed, generates the
workload's inputs from the seed, runs the driver JVM on Spark local[k]
(k = nproc / 2), checks every output off the clock, and prints as
its last stdout line {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The line before it is the full record (workload-specific
metrics, sample counts, host-contention diagnostics). Exits non-zero,
without a result line, when anything fails or an output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("llm_dataprep", "table_maintain")
SETUP_REPS = 3
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
DEADLINE = 170  # seconds a run may take once built
# Nominal seconds of one steady pass on a 4-core host: --seconds buys
# seconds / nominal passes, a count fixed before the run starts.
NOMINAL_PASS_S = {"llm_dataprep": 2.5, "table_maintain": 4.0}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_stamp():
    h = hashlib.sha256()
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (REPO, HERE):  # build definitions, not their target dirs
        d = os.path.join(base, "project")
        files += sorted(os.path.join(d, f) for f in os.listdir(d)
                        if f.endswith((".sbt", ".scala", ".properties")))
    for r in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", "src", "project"):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"{need} missing at {REPO}: run from a checkout of the repository")
    stamp = sources_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(args, dirs, work, cores, out, budget):
    cp = open(os.path.join(BUILD, "classpath")).read().strip()
    opts = [o for o in open(os.path.join(BUILD, "javaopts")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opts, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-cp", cp, "perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--passes", str(max(2, round(args.seconds / NOMINAL_PASS_S[args.workload]))),
           "--trace", str(args.trace),
           "--dirs", ",".join(dirs), "--work", work, "--cores", str(cores),
           "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"driver exceeded {budget:.0f} s; log in {log.name}")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"driver exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    build()
    t_start = time.time()

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # inputs are generated once per setup rep: generation is part of setup
    dirs, gen_s = [], []
    for i in range(SETUP_REPS):
        d = os.path.join(work, f"input{i}")
        t = time.time()
        gen.generate(args.workload, args.seed, d)
        gen_s.append(time.time() - t)
        dirs.append(d)
    # half the cores: task threads alone on every core left the JIT, GC and
    # driver threads competing with them, and run-to-run spread tripled
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    out = os.path.join(work, "record.json")
    run_jvm(args, dirs, work, cores, out, DEADLINE - (time.time() - t_start))
    rec = json.load(open(out))

    if args.workload == "table_maintain":
        problems = oracle.check_maintain(REPO, dirs[-1], os.path.join(work, "out"), rec)
        replays = [s for s in rec["spans"] if s["kind"].startswith("replay:")]
        if not replays or any(s["counters"].get("replay_skipped") != 1 for s in replays):
            problems["replays"] = ["an injected replay was applied, not skipped"]
    else:
        problems = oracle.check_queries(REPO, dirs[-1], os.path.join(work, "out"), rec,
                                        os.path.join(CACHE, "expected"))
    wrong = {k: v for k, v in problems.items() if v}
    e2e, extra, attempted, failed = metrics.end_to_end(rec, gen_s, args.workload)
    extra["wrong_results"] = len(wrong)
    full = {"workload": args.workload, "seed": args.seed, "metrics": e2e,
            "extra": extra, "wrong": wrong}
    if args.trace:
        full["per_layer"] = metrics.per_layer(rec, gen_s)
        self_t = metrics.self_times(rec["spans"])
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump([dict(s, self=self_t[s["id"]]) for s in rec["spans"]], f)
    print(json.dumps(full))
    for name, probs in wrong.items():
        print(f"perfbench: WRONG {name}: {'; '.join(probs)}", file=sys.stderr)
    if wrong:
        sys.exit(2)
    # names and units as BENCHMARK.json declares them
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = full["per_layer"] if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared}}))


if __name__ == "__main__":
    main()
