#!/usr/bin/env python3
"""One run of the engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the benchmark from source (build.py), then runs one
workload in a fresh JVM whose working directory is a fresh directory under
perfbench/.work/, so every run gets its own sink, warehouse and layout
roots. The last line of standard output is the result object; with
--trace 1 the spans are also written to perfbench/out/. Exits non-zero
on a build failure, a wrong answer, or a metric set that does not match
BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (build.sbt's list).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    if os.path.isdir(WORK):
        shutil.rmtree(WORK)
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.callstack.depth=200", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", os.path.join(HERE, "out")])
    try:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if not lines:
        fail(f"no output (exit {p.returncode})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not a result (exit {p.returncode}): {lines[-1][:200]}")
    for l in lines[:-1]:
        print(l)
    got = sorted(result.get("metrics", {}))
    if got != sorted(want):
        fail(f"metric set differs from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}")
    print(json.dumps(result))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
