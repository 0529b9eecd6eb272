#!/usr/bin/env python3
"""Serving benchmark for the graft retrieval engine.

Run from the repository root:

    python3 perfbench/run.py --workload text_online --seed 1 --seconds 10 --trace 0

Builds the engine's main sources plus the Scala harness in perfbench/src
with sbt (once per source state; outputs under .bench_build/), then runs
one workload in a fresh JVM on local[nproc]. The harness prints an info
line and, last, one JSON result line; this script relays both and exits
with the harness's status (nonzero when a correctness gate failed).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("text_online", "ann_serve_ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "perfbench" / "scala-2.13" / "classes"


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found (set SPARK_HOME)", 2)
    return home


def source_hash():
    h = hashlib.sha256()
    files = sorted(
        list((ROOT / "src" / "main" / "scala").rglob("*.scala"))
        + list((BENCH / "src").rglob("*.scala"))
        + [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(env):
    stamp = BUILD / "perfbench.stamp"
    digest = source_hash()
    if stamp.exists() and stamp.read_text() == digest and CLASSES.is_dir():
        return
    log = BUILD / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}", "compile"]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        code = wait(p, BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code}); log in {log}", 3)
    stamp.write_text(digest)


def wait(p, timeout):
    """Wait for a child; on timeout kill its whole process group."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in (ROOT / "src" / "main" / "scala" / "graft", ROOT / "data" / "corpus.jsonl",
                 ROOT / "data" / "labels.jsonl"):
        if not need.exists():
            fail(f"run from the repository root: {need.relative_to(ROOT)} is missing", 2)

    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)

    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    cp = f"{CLASSES}{os.pathsep}{Path(env['SPARK_HOME']) / 'jars'}/*"
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              f"-Dderby.system.home={work}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work)])
    log = BUILD / "logs" / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(exist_ok=True)
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                 start_new_session=True, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if lines:
        print("\n".join(lines))
        sys.stdout.flush()
    if p.returncode != 0 or not lines:
        fail(f"harness exited {p.returncode}; log in {log}", p.returncode or 5)


if __name__ == "__main__":
    main()
