#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline, from the local dependency cache);
later runs reuse the build until a source or build file changes. The run
itself is one JVM (perfbench.Main) on local[nproc]; its stdout is passed
through, and its last line is the result JSON. Scratch data, Spark's local
dirs and the run records (spans.jsonl, record.json) go to perfbench/.work.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
LAUNCH = HERE / "target" / "launch"
STAMP = LAUNCH / "stamp"

WORKLOADS = ("serve", "bulk", "ingest", "curate")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = {"bulk": "4g"}
DEFAULT_HEAP = "3g"


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: program and harness sources and
    build definitions (path, size, mtime)."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["TMPDIR"] = str(WORK / "tmp")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    stamp = source_stamp()
    if STAMP.is_file() and STAMP.read_text() == stamp and (LAUNCH / "classpath").is_file():
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    print("run.py: building the program and the benchmark with sbt", file=sys.stderr, flush=True)
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "perfbench/launchFiles"],
                           cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    STAMP.write_text(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    build()

    # each run starts from an empty scratch area; run records are kept
    for d in ("data", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(WORK / d, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)

    cp = (LAUNCH / "classpath").read_text().strip()
    jvm = [l for l in (LAUNCH / "jvm-options").read_text().splitlines() if l.strip()]
    heap = HEAP.get(a.workload, DEFAULT_HEAP)
    # a fixed heap size: heap resizing is one more thing that differs run to run
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={WORK / 'tmp'}"]
           + jvm + ["-cp", cp, "perfbench.Main",
                    "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", repr(a.seconds), "--trace", str(a.trace), "--work", str(WORK)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    watchdog = threading.Timer(RUN_TIMEOUT_S, stop)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line:
                last = line
            print(line, flush=True)
        proc.wait()
    finally:
        timed_out = not watchdog.is_alive()
        watchdog.cancel()
        if proc.poll() is None:
            stop()
            proc.wait()
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 3)
    shutil.rmtree(WORK / "data", ignore_errors=True)
    if proc.returncode != 0:
        fail(f"run failed (exit {proc.returncode})", proc.returncode if proc.returncode > 0 else 1)
    if not last.startswith('{"correct"'):
        fail("run ended without a result line", 4)


if __name__ == "__main__":
    main()
