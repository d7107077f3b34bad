#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark driver from source (sbt, offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Every file
the run writes stays under perfbench/target.

Output: a line naming the workload's own figures, then one JSON object
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSES = TARGET / "scala-2.13" / "classes"
STAMP = TARGET / "perfbench-build.stamp"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "")) / "jars"
WORKLOADS = ("train_eval", "ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
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
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    want = source_hash()
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state goes under target too, so the build writes nothing
    # outside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dsbt.global.base={TARGET / 'sbt-global'}",
            "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    TARGET.mkdir(parents=True, exist_ok=True)
    log = TARGET / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {r.returncode}); log in {log}")
    STAMP.write_text(want)


def run_java(args, work):
    """Run the driver JVM; return (exit code, stdout lines, log, peak RSS MiB)."""
    cp = os.pathsep.join([str(CLASSES), str(SPARK_JARS / "*")])
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the heap grows as the program needs it, up to a fixed cap, so peak
    # RSS stays below about the cap plus off-heap memory
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    stem = work / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log, out = stem.with_suffix(".log"), stem.with_suffix(".out")
    with open(log, "w") as err, open(out, "w") as so:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=so, stderr=err, start_new_session=True)
    # wait4 rather than Popen.wait: it also returns the child's own peak RSS
    deadline = time.time() + RUN_TIMEOUT_S
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid == p.pid:
            break
        if time.time() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            fail(f"workload ran past {RUN_TIMEOUT_S} s; log in {log}")
        time.sleep(0.05)
    p.returncode = os.waitstatus_to_exitcode(status)
    lines = [l for l in out.read_text().splitlines() if l.strip()]
    return p.returncode, lines, log, ru.ru_maxrss / 1024  # Linux reports KiB


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}; run from a full checkout")
    if not os.environ.get("SPARK_HOME") or not SPARK_JARS.is_dir():
        fail("SPARK_HOME must name a Spark installation with a jars directory")
    build()
    work = TARGET / "work"
    work.mkdir(parents=True, exist_ok=True)
    code, lines, log, rss_mb = run_java(args, work)
    if code != 0 or len(lines) < 2:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark exited {code}; log in {log}")
    named, result = json.loads(lines[-2]), json.loads(lines[-1])
    named["named"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MiB"}
    print(json.dumps(named))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
