#!/usr/bin/env python3
"""Build and run the benchmark for one workload; see BENCHMARK.json.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build. The
benchmark JVM prints its result as the last line of stdout.
"""
import argparse
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
OUT = os.path.join(HERE, "out")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked JVMs).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def newest_source_mtime():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            paths += [os.path.join(dirpath, f) for f in files]
    return max(os.path.getmtime(p) for p in paths)


def build():
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    rc = run(["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
              "-Dsbt.log.noformat=true", "writeClasspath"],
             cwd=HERE, timeout=BUILD_TIMEOUT_S, env=env, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {rc})")


def main():
    # a TERM to this script must also stop the build or the benchmark JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["arrest_etl", "lake_dml", "neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed heap: a heap that shrinks after a GC slows the next pass
        "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--out", OUT]
    sys.stdout.flush()
    rc = run(java, cwd=ROOT, timeout=RUN_TIMEOUT_S)
    sys.exit(rc)


if __name__ == "__main__":
    main()
