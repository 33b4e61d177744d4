#!/usr/bin/env python3
"""Runs one workload of the knowledge-engine benchmark.

    python3 kebench/run.py --workload graph|corpus|ingest --seed N \
        --seconds S --trace 0|1 [--data DIR] [--pins FILE]

Run from the root of a checkout. The first run builds the engine and the
benchmark from the checkout's sources with sbt, offline; later runs reuse
the build while the sources are unchanged. The run itself is one JVM
(`graft.kebench.Main`) on local[nproc] with the Tier-1 heap. Stdout ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}.

`--mode pin` rewrites the pins for `--data`; `--mode discover` checks each
workload's artifact set. See kebench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
DATA = BENCH / "data" / "sf0.001"
RUN_LIMIT_S = 170  # the run contract allows 180 s once the build exists
BUILD_LIMIT_S = 800
# what the build reads: the engine's and the benchmark's sources
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "kebench/build.sbt", "kebench/project/build.properties",
           "kebench/src"]


def fail(msg):
    print(f"kebench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_sha():
    """sha256 over the path and bytes of every build input, in path order."""
    h = hashlib.sha256()
    for rel in SOURCES:
        p = ROOT / rel
        files = sorted(p.rglob("*")) if p.is_dir() else [p]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode() + b"\0")
                h.update(f.read_bytes())
    return h.hexdigest()


def git_sha():
    """HEAD of the checkout, or None when it is not a git repository."""
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        fail(f"git rev-parse failed in a git checkout: {out.stderr.strip()}")
    return out.stdout.strip()


def nproc():
    n = len(os.sched_getaffinity(0))
    if n < 1:
        fail("cannot determine nproc")
    return n


def heap():
    """The Tier-1 heap: MemTotal / 2, clamped to 2..8 GiB."""
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            g = int(line.split()[1]) // 2097152
            return f"{min(max(g, 2), 8)}g"
    fail("no MemTotal in /proc/meminfo")


def build(stamp):
    """Compiles with sbt unless the last build saw the same sources;
    returns the classpath and the engine's JVM options."""
    launch = BENCH / "target" / "launch.txt"
    stamp_file = BUILD / "stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == stamp
            and launch.exists()):
        BUILD.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        env.pop("GRAFT_JAVA_OPTS", None)
        opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                "-Dsbt.server.autostart=false"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        t0 = time.time()
        with open(BUILD / "sbt.log", "w") as log:
            try:
                rc = subprocess.run(["sbt", "--batch", *opts, "kebench/launch"],
                                    cwd=BENCH, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=BUILD_LIMIT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            tail = (BUILD / "sbt.log").read_text().splitlines()[-30:]
            print("\n".join(tail), file=sys.stderr)
            fail(f"build failed ({rc}); log in {BUILD / 'sbt.log'}")
        stamp_file.write_text(stamp)
        print(f"kebench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    lines = launch.read_text().splitlines()
    jvm, opts = [], lines[1:]
    for i, o in enumerate(opts):
        if o == "--add-opens":
            jvm += [o, opts[i + 1]]
        elif o.startswith("-D"):
            jvm.append(o)
    if "--add-opens" not in jvm:
        fail("the engine build declares no --add-opens set")
    return lines[0], jvm


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--data", default=str(DATA))
    ap.add_argument("--pins")
    ap.add_argument("--mode", choices=["run", "pin", "discover"], default="run")
    a = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala"):
        if not (ROOT / rel).exists():
            fail(f"no {rel} in {ROOT}: the benchmark builds the engine "
                 "from the checkout's sources")
    data = Path(a.data).resolve()
    if not (data / "lineitem.parquet").exists():
        fail(f"no dataset at {data}")
    pins = Path(a.pins).resolve() if a.pins else BENCH / "pins" / f"{data.name}.json"
    if a.mode == "run" and not pins.exists():
        fail(f"no pins at {pins}")

    started = time.time()
    stamp = tree_sha()
    sha = git_sha()
    cpus, mem = nproc(), heap()
    cp, jvm = build(stamp)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *jvm, f"-Xmx{mem}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp,
           "graft.kebench.Main", "--mode", a.mode, "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", str(data), "--pins", str(pins),
           "--work", str(WORK), "--nproc", str(cpus), "--heap", mem,
           "--git", sha or "none (not a git checkout)", "--tree", stamp]
    # the build, when it ran, is not part of the run's time limit
    budget = RUN_LIMIT_S if a.mode == "run" else None
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    timer = threading.Timer(budget, proc.kill) if budget else None
    if timer:
        timer.start()
    last = None
    for line in proc.stdout:
        sys.stdout.write(line)
        last = line
    proc.wait()
    if timer:
        timer.cancel()
        if not timer.is_alive() and proc.returncode < 0:
            fail(f"run exceeded {budget} s")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    if a.mode == "run":
        res = json.loads(last)
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result line: {last.strip()}")
    print(f"kebench: {time.time() - started:.1f} s in all", file=sys.stderr)


if __name__ == "__main__":
    main()
