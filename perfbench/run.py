#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <cold_load|resync|index_churn> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program first (perfbench/build.py),
then starts one JVM with a local[nproc] Spark session. The last line of
standard output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1). The
lines before it repeat the run's detail: sample counts, input hash,
quiet-host bracket and residue counters. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

WORKLOADS = ("cold_load", "resync", "index_churn")
DEADLINE_S = 175  # the whole run, build included, ends before this
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    # a fixed, pre-touched heap: peak RSS then moves only with off-heap
    # memory instead of with the collector's heap-sizing decisions
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"perfbench: JVM {'timed out' if rc is None else f'exited {rc}'}\n")
        shutil.copy(log_path, os.path.join(HERE, "work", f"{a.workload}-failed.log"))
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    with open(out) as f:
        res = json.load(f)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(HERE, "work", f"{a.workload}-spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace}")
    for k, v in res["detail"].items():
        print(f"  {k}: {json.dumps(v)}")
    for k, m in res["metrics"].items():
        print(f"  metric {k} = {m['value']} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
