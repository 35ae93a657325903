#!/usr/bin/env python3
"""Incremental-refresh benchmark of the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in one JVM with Spark local[4] and one closed-loop
client, checks its outputs, and prints as its last line one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are the per-layer ones. The line before it carries figures that are
reported but not gated (canary, speed-up, failed share, op counts).
Everything it writes stays under .bench_build/perfbench.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pr_stream", "corpus_stream")
DEADLINE_S = 170  # seconds a run may take after the build
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss4m",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.build(root)
    except (FileNotFoundError, RuntimeError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 1
    out_dir = os.path.join(root, build.OUT_DIR)
    # per-process names: two runs in one checkout must not share state
    tag = f"{a.workload}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(out_dir, "work", tag)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(out_dir, "work", tag + ".json")
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch in the checkout
    cmd = [build.java()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
        str(a.trace), work, result]
    log_path = os.path.join(out_dir, "work", tag + ".log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                env=env, timeout=DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    log_path = os.path.join(out_dir, f"{a.workload}-trace{a.trace}.log")
    os.replace(os.path.join(out_dir, "work", tag + ".log"), log_path)
    if os.path.exists(result + ".spans.jsonl"):
        os.replace(result + ".spans.jsonl",
                   os.path.join(out_dir, f"spans-{a.workload}.jsonl"))
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        print("".join(tail), file=sys.stderr)
        print(f"perfbench: {a.workload} run failed ({rc}); log in {log_path}",
              file=sys.stderr)
        return 1
    with open(result + ".extra.json") as f:
        extra = json.load(f)
    with open(result) as f:
        res = json.load(f)
    os.remove(result)
    os.remove(result + ".extra.json")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "reported_not_gated": extra}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
