#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt (offline) into the build directories the
root .gitignore names; later calls reuse the build while the sources are
unchanged. The measurement itself runs in one JVM (see
src/graft/perfbench/Main.scala); its last stdout line is the JSON result.
Extra flags after the four above (--scale, --corrupt) are passed through;
the self-test uses them. `--workload all` runs every workload in
turn and prints each one's metric table and result line.
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# sbt, the JVM and Spark's local dirs keep their temporary files here
TMP = os.path.join(BUILD, "tmp")
WORKLOADS = ["trace_lookup", "ledger_ingest"]  # as named in BENCHMARK.json

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: engine sources (build.sbt, src/main/scala) "
                 "not found next to perfbench/")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    os.makedirs(TMP, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.override.build.repos=true",
             "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={TMP}",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=700).returncode
    with open(log) as f:
        tail = f.read().splitlines()
    if rc != 0 or not tail:
        sys.exit(f"perfbench: build failed (exit {rc}), see {log}")
    cp = tail[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def run(cp, args):
    workload = args[args.index("--workload") + 1]
    work = os.path.join(BUILD, f"work-{workload}-{os.getpid()}")
    cpus = str(min(4, len(os.sched_getaffinity(0))))
    os.makedirs(TMP, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={TMP}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--work", work, "--cpus", cpus]
           + args)
    try:
        return subprocess.run(cmd, cwd=ROOT, timeout=170).returncode
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded its time limit")


def main():
    args = sys.argv[1:]
    for flag in ("--workload", "--seed", "--seconds", "--trace"):
        if flag not in args or args.index(flag) + 1 >= len(args):
            sys.exit(f"perfbench: missing {flag}")
    cp = build()
    i = args.index("--workload") + 1
    if args[i] != "all":
        sys.exit(run(cp, args))
    for w in WORKLOADS:
        rc = run(cp, args[:i] + [w] + args[i + 1:])
        if rc != 0:
            sys.exit(rc)


if __name__ == "__main__":
    main()
