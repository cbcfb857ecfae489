#!/usr/bin/env python3
"""pdfzspark benchmark: one command per workload run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
runs the workload in one JVM (perfbench/src), checks its outputs, and
prints as the last stdout line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1), each with its unit. The line before it is
the run's comparability record. Exits 1 when an output is wrong.
See perfbench/README.md.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 160
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Extraction runs on C1-compiled code. In a one-minute run on 4 cores the
# C2 compiler is still compiling the extraction path when the run ends:
# its threads take cores from the local[high] units (not from local[low],
# which leaves cores idle), so docs/s tracked the JIT's progress and
# varied by about 30% between runs. C1 settles within the warm-up.
# query_ops keeps the default tiered compiler: under C1 its passes took
# about 60% longer and its figures were no steadier.
JIT_FLAGS = {"extract_mixed": ["-XX:TieredStopAtLevel=1"]}


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or "unknown"


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return "timeout"


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description="pdfzspark benchmark")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    ap.add_argument("--break-golden", action="store_true",
                    help="alter one expected output, to show the correctness check failing")
    a = ap.parse_args()

    # query_ops reads fixed tables: a copy of the repository's sf0.1 test
    # tables (documents, embeddings), or of sf0.01 in smoke mode
    tables = os.path.join(HERE, "data", "sf0.01" if a.smoke else "sf0.1")
    classes = build.ensure()
    jars = build.spark_jars()
    base = os.path.join(build.BUILD, "work")
    work = os.path.join(base, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    flags = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *JIT_FLAGS.get(a.workload, [])]
    flags += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp"]
    out = os.path.join(work, "result.json")
    cmd = [build.java(), *flags, "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--smoke", str(int(a.smoke)),
           "--break-golden", str(int(a.break_golden)), "--tables", tables, "--work", work, "--out", out,
           "--trace-out", trace_out]
    try:
        rc = run_jvm(cmd, os.path.join(work, "jvm.log"))
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
            sys.exit(f"perfbench: the benchmark JVM ended with {rc}")
        res = json.load(open(out))
        attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
        if a.workload == "query_ops":
            import oracle
            t0 = time.monotonic()
            o_att, o_fail, o_msgs = oracle.check(tables, os.path.join(work, "results"), a.break_golden)
            res["facts"]["oracle_s"] = time.monotonic() - t0
            attempted, failed, failures = attempted + o_att, failed + o_fail, failures + o_msgs
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in declared if values.get(m["name"]) is None]
    if missing:
        sys.exit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    facts = dict(res["facts"])
    facts.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace, smoke=a.smoke,
                 git_commit=git_commit(), host=platform.node(),
                 trace_file=os.path.relpath(trace_out, ROOT) if a.trace else None,
                 failed_ops_frac=failed / max(attempted, 1))
    for name, m in metrics.items():
        sys.stderr.write(f"{name:48s} {m['value']:>16.6g} {m['unit']}\n")
    for f in failures:
        sys.stderr.write(f"FAILED: {f}\n")
    correct = failed == 0
    print(json.dumps({"comparability": facts}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
