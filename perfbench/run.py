#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload {ingest,scan,lookup,dml} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a graft checkout. Builds the engine and the benchmark
if their sources changed (perfbench/build.py), then runs one JVM with Spark
at local[nproc]. The JVM prints its metrics by name and unit, and as the
last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. Tables and Spark's scratch files live in perfbench/.work
and are removed afterwards; traced runs leave their span file in
perfbench/out.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("ingest", "scan", "lookup", "dml")
# one JVM; heap fixed so that GC behaviour does not follow the host's memory.
# The JVM lives for under a minute: lower compile thresholds let the JIT
# reach compiled code during the set-ups and warm-up, so that the measured
# operations do not get cheaper while the window runs.
HEAP = "2g"
JVM_FLAGS = [
    "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.2",
    # no hsperfdata file in the system's temp directory
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # JVM log lines go to stderr, so the result stays the last line of stdout
    "-Xlog:disable", "-Xlog:all=warning:stderr",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
RUN_TIMEOUT_S = 170


def revision():
    """The git revision when the checkout is a repository, else a digest of the sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10)
            if r.returncode == 0:
                return r.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    srcs = build.files_under(os.path.join(ROOT, "src", "main")) + \
        build.files_under(os.path.join(HERE, "src"))
    return "sources-sha256:" + build.digest(srcs)[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = os.path.join(HERE, ".work")
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + work, "-cp", ":".join(classpath),
                                  "perfbench.Main", "--workload", a.workload,
                                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                                  "--trace", a.trace, "--work", work, "--out", out,
                                  "--revision", revision()]
    log_path = os.path.join(out, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    started = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                             env=env, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: {a.workload} timed out after {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.rstrip("\n").split("\n") if stdout else []
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
        if not isinstance(result, dict) or "correct" not in result:
            result = None
    if result is None:
        sys.stdout.write(stdout or "")
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: {a.workload} failed (exit {p.returncode}, log: {log_path})")

    for line in lines[:-1]:
        print(line)
    print(f"run_wall_s {time.time() - started:.1f}")
    if a.trace == "1":
        overhead(a, result, out)
    else:
        info = next((json.loads(x)["info"] for x in lines if x.startswith('{"info"')), {})
        with open(os.path.join(out, f"untraced-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"result": result, "info": info}, f)
    print(json.dumps(result))


def overhead(a, traced, out):
    """Tracing overhead: traced minus untraced end-to-end numbers for the
    same workload and seed, when an untraced result was kept."""
    path = os.path.join(out, f"untraced-{a.workload}-{a.seed}.json")
    if not os.path.isfile(path):
        print("tracing overhead: no untraced run of this workload and seed in perfbench/out")
        return
    with open(path) as f:
        plain = json.load(f)
    untraced = {k: v["value"] for k, v in plain["result"]["metrics"].items()}
    untraced.update({k: float(plain["info"][k]) for k in ("op_ms_p50", "raw_mb_s")})
    for name in ("op_cpu_ms_p50", "op_ms_p50", "raw_mb_s"):
        t, u = traced["metrics"]["traced." + name]["value"], untraced[name]
        print(f"tracing overhead {name}: traced {t:.4f} - untraced {u:.4f} = {t - u:+.4f} "
              f"({(t - u) / u * 100 if u else 0:+.1f}%)")


if __name__ == "__main__":
    main()
