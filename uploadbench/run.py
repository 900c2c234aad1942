#!/usr/bin/env python3
"""Uploader benchmark launcher.

    python3 uploadbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the benchmark package (uploadbench/,
compiled together with the program sources under src/main) with sbt into
.bench_build/ when the sources changed since the last build, then runs one
benchmark JVM. The JVM's last stdout line is the result JSON; build and Spark
logs go to stderr. `--trace 1` loads the tracing agent (the benchmark jar) and
writes the traced runs' spans to .bench_build/spans/<workload>-seed<n>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
SBT_OUT = BUILD / "sbt"
PROGRAM = ROOT / "src" / "main"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# files under uploadbench/ that the build reads
BUILD_INPUTS = {".scala", ".java", ".sbt", ".properties"}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of the build inputs: program sources and benchmark sources."""
    h = hashlib.sha256()
    for top in (PROGRAM, BENCH):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames
                                 if d not in ("target", "__pycache__")
                                 and not (d == "project" and Path(dirpath).name == "project"))
            for f in sorted(filenames):
                p = Path(dirpath) / f
                if top == BENCH and p.suffix not in BUILD_INPUTS:
                    continue
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp_file = BUILD / "stamp"
    classpath = SBT_OUT / "classpath.txt"
    stamp = source_stamp()
    if classpath.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "benchPackage"]
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not classpath.exists():
        sys.exit("uploadbench: build failed")
    stamp_file.write_text(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not (PROGRAM / "scala" / "graft" / "bde" / "Orchestrator.scala").exists():
        sys.exit(f"uploadbench: program sources not found under {PROGRAM}")

    jars = build().read_text().split()
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if a.trace == "1":
        cmd.append(f"-javaagent:{jars[0]}")
    cmd += ["-cp", os.pathsep.join(jars), "uploadbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
            "--spans", str(BUILD / "spans" / f"{a.workload}-seed{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"uploadbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
