#!/usr/bin/env python3
"""Build and run the serving benchmark (see servebench/README.md).

    python3 servebench/run.py --heap 4g --workload query_dashboard \
        --seed 1 --seconds 20 --trace 0
    python3 servebench/run.py --heap 4g --all --seed 1 --seconds 20   # every workload

Builds the engine and the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build/), then runs one JVM per
workload. The JVM prints a human-readable record and, as its last line,
one JSON object; this script passes both through. Spark's own log goes to
.bench_build/servebench/<workload>-<seed>.log.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "servebench")
WORKLOADS = ["ingest_put", "query_dashboard", "mixed_tcp"]
RUN_TIMEOUT_S = 170

# the engine's JVM flags (build.sbt javaOptions): Spark on JDK 17 outside
# spark-submit needs these opens
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, engine and benchmark."""
    picks = ["build.sbt", "project/build.properties",
             "servebench/build.sbt", "servebench/project/build.properties"]
    for top in ["src/main", "servebench/src/main"]:
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            picks += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(picks)


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources (build.sbt, src/main/scala/graft) not found next to servebench/")
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); log in {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_one(cp, a, workload):
    """One JVM for one workload; returns (exit code, last stdout line)."""
    tag = f"{workload}-{a.seed}-t{a.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap size (-Xms = -Xmx): no run-to-run difference in heap growth
    cmd = ["java", f"-Xms{a.heap}", f"-Xmx{a.heap}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "servebench.ServeBench", "--workload", workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    env = dict(os.environ, SPARK_DRIVER_MEM=a.heap)
    log = os.path.join(OUT, f"{tag}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=lf, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        deadline = time.time() + RUN_TIMEOUT_S

        def on_timeout(*_):
            os.killpg(p.pid, signal.SIGKILL)

        signal.signal(signal.SIGALRM, on_timeout)
        signal.alarm(RUN_TIMEOUT_S)
        try:
            out = []
            for line in p.stdout:
                out.append(line)
            p.wait()
        finally:
            signal.alarm(0)
    timed_out = time.time() >= deadline and p.returncode != 0
    spans = os.path.join(work, "spans.json")
    if os.path.isfile(spans):
        kept = os.path.join(OUT, f"spans-{tag}.json")
        shutil.copy(spans, kept)
        print(f"servebench: spans written to {kept}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not out:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        why = "timed out" if timed_out else f"exit {p.returncode}"
        print(f"servebench: {workload} failed ({why}); log in {log}", file=sys.stderr)
        return 1, ""
    last = out[-1].strip()
    try:
        rec = json.loads(last)
        assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write("".join(out[-20:]))
        print(f"servebench: {workload} printed no result line; log in {log}", file=sys.stderr)
        return 1, ""
    sys.stdout.write("".join(out[:-1]))
    return 0, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--heap", required=True, help="pinned JVM heap, e.g. 4g")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    cp = build()
    rc, last = 0, ""
    for w in (WORKLOADS if a.all else [a.workload]):
        code, line = run_one(cp, a, w)
        rc = rc or code
        if line:
            last = line
            if a.all:
                print(f"result {w} {line}")
    if rc == 0 and last:
        print(last)
    sys.exit(rc)


if __name__ == "__main__":
    main()
