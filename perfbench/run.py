"""Daily-run benchmark: raw zone on disk -> parse -> guard -> load -> export.

Run from the repository root:

    python3 perfbench/run.py --workload estimates-pages --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark (perfbench/build.py) and, once per
build, the workload's seeded store (it does not depend on the seed). Then one
JVM writes the raw zone from the seed, times set-up (JVM start to the first
daily run done, less the raw-zone generation) and measures warm daily runs
for --seconds. The last stdout line is one JSON object: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Exits non-zero when an output check fails.
Everything it writes stays under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("estimates-pages", "statements-backfill", "calendars-rewrite")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(root, classes, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC",
             "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" +
             os.path.join(root, "perfbench", "log4j2.properties")]
            + opens +
            ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
             "perfbench.Main"])


def run_jvm(cmd, deadline):
    """Runs one JVM step, echoing all but its last stdout line; returns
    (exit code, stdout lines)."""
    left = deadline - time.monotonic()
    if left <= 5:
        raise TimeoutError("no time left for the next step")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=left)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, flush=True)
    return p.returncode, lines


def last_json(lines):
    for line in reversed(lines):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise ValueError("no JSON result line")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.build(root)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(root, ".bench_build", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(os.path.dirname(classes), "store", a.workload)
    base = java_cmd(root, classes, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--work", work,
        "--store", store]
    try:
        if not os.path.exists(os.path.join(store, ".done")):
            rc, lines = run_jvm(base + ["--mode", "store"], deadline)
            if rc != 0 or not last_json(lines)["store_ok"]:
                print("[perfbench] seeded store failed its checks", file=sys.stderr)
                return 1
            open(os.path.join(store, ".done"), "w").close()
        trace_out = os.path.join(root, ".bench_build", "traces",
                                 f"{a.workload}-seed{a.seed}.jsonl")
        rc, lines = run_jvm(base + ["--mode", "measure", "--seconds", str(a.seconds),
                                    "--trace", str(a.trace), "--trace-out", trace_out],
                            deadline)
        result = last_json(lines)
    except (subprocess.TimeoutExpired, TimeoutError) as e:
        print(f"[perfbench] deadline exceeded: {e}", file=sys.stderr)
        return 1
    except ValueError as e:
        print(f"[perfbench] no result: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if rc == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
