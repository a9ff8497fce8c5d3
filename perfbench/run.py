#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the classpath under
``.bench_build/``, keyed by a hash of every source and build file; later
runs start the JVM directly. Each run gets private directories under
``.bench_build/runs/`` (inputs, ``java.io.tmpdir``, ``spark.local.dir``,
warehouse) and removes them when it ends. The last line on stdout is the
result object; everything else goes to stderr.

Workloads: curation, medallion (see perfbench/README.md).
"""
import argparse
import fcntl
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("curation", "medallion")
# Scale factor of the generated tables; checksums.json is recorded at it.
SF = 0.01
# A run must end within 180 s; the JVM is stopped well before that.
JVM_TIMEOUT_S = 150
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SOURCES = ["src/main", "build.sbt", "project/build.properties",
           "perfbench/src/main", "perfbench/build.sbt",
           "perfbench/project/build.properties"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            raise SystemExit(f"perfbench: missing {rel}; run from a full checkout")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read()
        log("building engine and benchmark with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        sbt_tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(sbt_tmp, exist_ok=True)
        # No sbt server, and sbt's temp files inside the checkout.
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
                f"-Djava.io.tmpdir={sbt_tmp}", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True)
        sys.stderr.write(out.stdout[-4000:])
        lines = [l for l in out.stdout.splitlines() if "perfbench" in l and
                 "classes" in l and not l.startswith("[")]
        if out.returncode != 0 or not lines:
            raise SystemExit("perfbench: sbt build failed")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return lines[-1].strip()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    sys.path.insert(0, HERE)
    import datagen

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    data = os.path.join(work, "data")
    if a.workload != "medallion":
        t0 = time.time()
        datagen.tables(data, a.seed, SF)
        log(f"generated tables at sf{SF} in {time.time() - t0:.2f}s")
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--result", result,
              "--expected", os.path.join(HERE, "checksums.json"),
              "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(result):
            raise SystemExit(f"perfbench: JVM exited with {code}")
        with open(result) as f:
            out = json.load(f)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
