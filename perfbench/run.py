#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload medallion_csv --seed 1 --seconds 5 --trace 0

The first run builds the program from source together with the
benchmark (an sbt package in this directory, offline); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed under perfbench/.work, which is removed afterwards. The last line
of standard output is the result object; a failed build or run exits
non-zero without printing one.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
CLASSPATH = TARGET / "perfbench.classpath"
STAMP = TARGET / "perfbench.stamp"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build depends on."""
    h = hashlib.sha256()
    files = [f for d in (PROGRAM_SRC.parent, HERE / "src" / "main")
             for f in sorted(d.rglob("*")) if f.is_file()]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + benchmark with sbt (offline) unless up to date."""
    stamp = source_stamp()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
    # Resolve from the same repository definitions the toolchain's cache
    # was filled from, when the caller did not name them.
    repos = Path.home() / ".sbt" / "repositories"
    if "sbt.repository.config" not in opts and repos.is_file():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    cp = lines[-1].strip()
    TARGET.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(cp)
    STAMP.write_text(stamp)
    return cp


def run(cp, args, work):
    # A fixed heap size. When the collector resized the heap by its own
    # heuristics, run times spread several times wider between runs.
    cmd = ["java", "-Xms2560m", "-Xmx2560m",
           # JVM log lines go to stderr, never between the result and EOF.
           "-Xlog:disable", "-Xlog:all=error:stderr",
           # No hsperfdata file in the system temp directory.
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return None
    if proc.returncode != 0:
        log(f"run exited with {proc.returncode}")
        return None
    results = [l for l in out.splitlines() if l.startswith('{"correct"')]
    return results[-1] if results else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not PROGRAM_SRC.is_dir():
        log(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}; "
            "run from the root of a full checkout")
        sys.exit(2)
    cp = build()
    work = HERE / ".work" / f"run-{os.getpid()}-{int(time.time())}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        line = run(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if line is None:
        sys.exit(1)
    try:
        result = json.loads(line)
    except ValueError:
        log(f"last output line is not JSON: {line[:200]}")
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
