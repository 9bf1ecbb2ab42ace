#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 2 --trace 0

Builds the engine from source if needed (perfbench/build.py), runs the
workload in one Spark driver process at local[nproc] (perfbench/src), checks
its outputs (perfbench/check.py) and prints two lines on stdout: a full
report (inputs, machine state, every metric measured), then the result line
with exactly the metrics BENCHMARK.json lists for the mode: end-to-end with
--trace 0, per-layer with --trace 1. Exits non-zero if any output is wrong.
Everything the run writes stays under .bench_work/ and is removed at exit,
except a traced run's spans (.bench_work/<run>-spans.tsv).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("daily_batch", "lake_ingest")
JVM_TIMEOUT_S = 150  # leaves the checks time within the 180 s a run may take
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    try:
        classes = build.ensure()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        res = run_engine(a, classes, jars, work)
        t1 = time.time()
        import check
        if a.workload == "lake_ingest":
            n, fails = check.lake(res["info"])
        else:
            n, fails = check.batch(res["info"])
        res["info"]["phases_s"].update(engine_process=t1 - t0, oracle_checks=time.time() - t1)
    finally:
        spans = os.path.join(work, "spans.tsv")
        if os.path.isfile(spans):  # the traced run's spans outlive the run
            shutil.move(spans, f"{work}-spans.tsv")
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["attempted"] + n
    failures = res["failures"] + fails
    failed = res["failed"] + len(fails)
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    values = res["per_layer"] if a.trace else res["end_to_end"]
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    report = dict(res)
    report.update(failed_frac=failed / attempted, failed=failed, attempted=attempted,
                  failures=failures)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


def run_engine(a, classes, jars, work):
    java = build.java()
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory
    cmd = [java, "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace), work]
    log = os.path.join(work, "engine.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S, cwd=work)
            rc = r.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        sys.stderr.write(open(log).read()[-6000:])
        sys.exit(f"perfbench: engine run failed ({rc})")
    return json.load(open(result))


if __name__ == "__main__":
    main()
