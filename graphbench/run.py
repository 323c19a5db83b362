#!/usr/bin/env python3
"""Benchmark for the graft engine: the Graph runbook and the streaming lifecycle.

Run from the root of a checkout:

    python3 graphbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the harness from source with sbt into
`.bench_build/` (about a minute); later runs reuse the build while the
sources are unchanged. Each run starts one JVM for one workload and prints
one JSON object as the last line of standard output. Per-run details (every
operation's time, and with `--trace 1` the spans) land in
`.bench_build/results/`. See graphbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "graphbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("graph_full_refresh", "graph_delta_sync", "stream_lifecycle")
# identical on every run, and touched in full at start, so peak RSS
# compares like with like instead of counting the heap regions the
# collector happened to touch
HEAP = "2g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"graphbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("needs a Spark distribution: set SPARK_HOME or put spark-submit "
             "on PATH", 2)
    return home


def build():
    """Compiles engine + harness unless the stamped build is current;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(stamp) and os.path.exists(cp_file):
            with open(stamp) as f:
                if f.read() == digest:
                    with open(cp_file) as c:
                        return c.read().strip()
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log_path = os.path.join(BUILD, "build.log")
        with open(log_path, "w") as log:
            try:
                p = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                    stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S, text=True)
            except subprocess.TimeoutExpired:
                fail(f"build timed out; see {log_path}")
            log.write(p.stdout)
        lines = [ln.strip() for ln in p.stdout.splitlines()]
        cps = [ln for ln in lines if ln.startswith("/") and "classes" in ln]
        if p.returncode != 0 or not cps:
            tail = "\n".join(p.stdout.splitlines()[-30:])
            fail(f"build failed (exit {p.returncode}); see {log_path}\n{tail}")
        with open(cp_file, "w") as f:
            f.write(cps[-1])
        with open(stamp, "w") as f:
            f.write(digest)
        return cps[-1]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; "
             "run from the root of a checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("needs sbt and java on PATH", 2)
    classpath = build()
    started = time.time()  # the run's own deadline excludes a first build

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results_dir = os.path.join(BUILD, "results")
    logs_dir = os.path.join(BUILD, "logs")
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    for d in (results_dir, logs_dir, work):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graphbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--results", os.path.join(results_dir, tag),
            "--cores", str(cores), "--launched-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(logs_dir, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                 stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = p.communicate(
                    timeout=max(10.0, RUN_DEADLINE_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run timed out; see {log_path}", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("RESULT ")]
    if p.returncode != 0 or not lines:
        fail(f"JVM exited {p.returncode} without a result; see {log_path}")
    result = json.loads(lines[-1][len("RESULT "):])
    missing = [m for m in expected_metrics(a.trace) if m not in result["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
