#!/usr/bin/env python3
"""Run one benchmark workload against the graft checkout this file sits in.

    python3 perfbench/run.py --workload ingest|mutate|curate --seed N \
        --seconds S --trace 0|1 [--smoke]

The first run in a checkout builds graft and the harness from source with
sbt (perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Inputs are the sf0.1 tables in perfbench/data; the seed picks
how a workload draws from them. Every run works in a fresh directory under perfbench/target/runs
and deletes it afterwards. The last line of stdout is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
DATA = os.path.join(HERE, "data")  # input tables: events, documents, embeddings (sf0.1)
WORKLOADS = ("ingest", "mutate", "curate")
RUN_LIMIT_S = 175
HEAP = "3g"  # driver JVM heap; a run's heap after GC stays near 100 MiB

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: graft's main sources and build, and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Build graft + harness unless the last build saw the same sources.
    Returns whether it built."""
    fp = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return False
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(TARGET, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "writeClasspath"], cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(STAMP, "w") as f:
        f.write(fp)
    print(f"built in {time.time() - t0:.1f}s", file=sys.stderr)
    return True


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs and one set-up, for the harness's own tests")
    a = p.parse_args()

    # the benchmark measures the graft sources beside it; without them it cannot run
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no graft sources next to {HERE} (build.sbt and src/main are required)")
    started = time.time()
    if build():
        started = time.time()  # a run that builds may take longer; the limit covers the run itself

    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(TARGET, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(TARGET, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--trace-out", os.path.join(TARGET, "traces", f"{a.workload}-{a.seed}.jsonl"),
            "--data", DATA, "--metrics", os.path.join(HERE, "METRICS.json")]
    if a.smoke:
        cmd += ["--smoke", "1"]
    log = os.path.join(TARGET, "logs", f"{tag}.log")
    limit = max(30.0, RUN_LIMIT_S - (time.time() - started))
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=limit)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {limit:.0f}s; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"no result (exit {proc.returncode}); see {log}")
    if proc.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited {proc.returncode}; see {log}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
