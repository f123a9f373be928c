#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result.

    python3 perfbench/run.py --workload <etl_http|window_state|batch_mix> \
        --seed <n> --seconds <s> --trace <0|1> [--post-delay-ms <ms>] [--win-mix r,o,l]

Run from the repository root. The first run builds the benchmark package
(perfbench/build.sbt, which compiles the engine's sources beside the
benchmark's) and caches the classpath under .bench_build/; later runs
rebuild only when a source file is newer than that cache.

Every run gets a fresh directory under .bench_build/perfbench/runs/ for
java.io.tmpdir, Spark's local directory, checkpoints, generated tables and
results, and deletes it at the end. Spans of a traced run are kept under
.bench_build/perfbench/traces/.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
exit code is 0 only when every output check passed.

--post-delay-ms is the sensitivity drill: the CTSDB receiver of etl_http
holds every POST that long before replying. --win-mix sets window_state's
traffic shares per thousand messages: redeliveries, out of order inside the
watermark, late beyond it (default 50,30,5).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
JVM_TIMEOUT_S = 170
HEAP = "3g"
WORKLOADS = ("etl_http", "window_state", "batch_mix")

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return files


def classpath():
    """Build the benchmark package if any source is newer than the cache."""
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1]:
        print("\n".join((r.stdout + r.stderr).splitlines()[-40:]), file=sys.stderr)
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def expected_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--post-delay-ms", type=int, default=0)
    ap.add_argument("--win-mix")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a full checkout")
    if not shutil.which("sbt") or not shutil.which("java") or not os.environ.get("SPARK_HOME"):
        fail("needs sbt, java and SPARK_HOME")
    cp = classpath()
    build_s = time.time() - t_start

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir,
                "--trace-dir", os.path.join(BUILD, "traces"),
                "--post-delay-ms", str(a.post_delay_ms)]
        if a.win_mix:
            args += ["--win-mix", a.win_mix]
        data_dir = os.path.join(run_dir, "data")
        out_dir = os.path.join(run_dir, "results")
        if a.workload == "batch_mix":
            import batchdata
            t0 = time.time()
            batchdata.generate(a.seed, data_dir)
            os.makedirs(out_dir)
            print(f"[perfbench] tables generated in {time.time() - t0:.2f} s")
            args += ["--data-dir", data_dir, "--out-dir", out_dir]
        cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=512m"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main"] + args)
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=run_dir)
            watchdog = threading.Timer(JVM_TIMEOUT_S, p.kill)
            watchdog.start()
            lines = []
            try:
                for line in p.stdout:
                    lines.append(line.rstrip("\n"))
                    if not line.startswith("{"):
                        print(line, end="", flush=True)
                p.wait()
            finally:
                watchdog.cancel()
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
            with open(log_path) as f:
                print("".join(f.readlines()[-30:]), file=sys.stderr)
            kept = os.path.join(BUILD, f"failed-{a.workload}-{a.seed}.log")
            shutil.copy(log_path, kept)
            print(f"perfbench: the benchmark process's log is kept in {kept}", file=sys.stderr)
            print(f"perfbench: benchmark process exited with {p.returncode}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])

        if a.workload == "batch_mix":
            import batchdata
            checks = batchdata.check(data_dir, out_dir)
            bad = [c for c in checks if not c[1]]
            for name, ok, msg in checks:
                print(f"[perfbench] oracle {'ok  ' if ok else 'FAIL'} {name}: {msg}")
            result["attempted"] += len(checks)
            result["failed"] += len(bad)
            result["correct"] = result["correct"] and not bad

        names = expected_names(a.trace)
        missing = [n for n in names if n not in result["metrics"]]
        if missing:
            print(f"perfbench: metrics missing from the run: {missing}", file=sys.stderr)
            return 1
        result["metrics"] = {n: result["metrics"][n] for n in names}
        print(f"[perfbench] build check {build_s:.1f} s, run {time.time() - t_start:.1f} s wall")
        print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
