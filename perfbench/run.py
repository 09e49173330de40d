#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 1 --trace 0

Builds the engine and the benchmark program with sbt on first use (the
classpath is cached under perfbench/target, keyed by a hash of the
sources), runs the program in one JVM with local[nproc], and prints its
report lines followed by one JSON result line. Exits non-zero,
without a result line, when the engine sources are missing or the run
fails; exits 1 after the result line when a correctness check failed.

Extra options: --scale F multiplies every input size (the smoke test uses
a small one); --report FILE writes every reported metric as JSON.
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
REPO = HERE.parent
WORKLOADS = ("curate", "iris_ml")
RUN_TIMEOUT_S = 176
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 needs these outside spark-submit (the root build sets
# the same list for its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [REPO / "src" / "main", HERE / "src"]
    files = [REPO / "build.sbt", REPO / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    cp_file = HERE / "target" / "classpath.txt"
    stamp = HERE / "target" / "build.stamp"
    digest = source_hash()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not cp_file.exists():
        fail("build failed")
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp_file.read_text().strip()


def run_jvm(cp, args, work):
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'local'}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", str(args.scale), "--work", str(work / "run"),
    ]
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--report", type=Path)
    args = ap.parse_args()
    if not (REPO / "src" / "main" / "scala").is_dir() or not (REPO / "build.sbt").is_file():
        fail(f"no engine sources under {REPO}; run from a checkout of the repository")
    cp = build()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code, out = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = next((l for l in reversed(lines) if l.startswith("{\"correct\"")), None)
    if result is None:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited {code} without a result")
    for line in lines:
        if line.startswith("REPORT "):
            if args.report:
                args.report.parent.mkdir(parents=True, exist_ok=True)
                args.report.write_text(json.dumps(
                    {"workload": args.workload, "seed": args.seed,
                     "seconds": args.seconds, "trace": args.trace,
                     "metrics": json.loads(line[len("REPORT "):])}, indent=1) + "\n")
        elif line is not result:
            print(line)
    print(result)
    sys.exit(0 if code == 0 and json.loads(result)["correct"] else 1)


if __name__ == "__main__":
    main()
