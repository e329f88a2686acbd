"""Comparison-job benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload clean_gate --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the program and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed, runs
the JVM side (perfbench/src/perfbench/Main.scala) and relays its output; the
last stdout line is the JSON result. Everything it writes stays under
.bench_build and is removed again, except the build and the span files.
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

WORKLOADS = ["clean_gate", "drift_nested", "many_small"]
# The add-opens Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: per workload)")
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
        cp = build.classpath(root, classes)
    except Exception as e:  # missing sources, compile error, no jars
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    bdir = os.path.join(root, build.BUILD_DIR)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    log_path = os.path.join(bdir, "logs", f"{tag}.log")
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g",
        "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--dir", work,
        "--spans", os.path.join(bdir, "trace", f"{tag}.spans.json"),
    ]
    if a.sf is not None:
        jvm += ["--sf", str(a.sf)]
    try:
        with open(log_path, "w") as log:
            jvm += ["--launch-ns", str(time.time_ns())]
            proc = subprocess.Popen(jvm, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; log: {log_path}",
                      file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"benchmark JVM failed (exit {proc.returncode}); log: {log_path}", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
