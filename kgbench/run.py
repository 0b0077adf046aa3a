#!/usr/bin/env python3
"""Run one workload of the KG-construction benchmark.

    python3 kgbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The first run in a checkout compiles the
library (src/main/scala) and the measuring program with sbt; later runs reuse
that build while the sources are unchanged. The measuring JVM prints its
progress on stderr and one result JSON object as the last line of stdout.
Inputs, outputs and traces stay under kgbench/.work/.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BUILD = HERE / ".build"
WORK = HERE / ".work"
WORKLOADS = ("corpus_detect", "curation")
# A run must end within 180 s; the first one in a checkout also builds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
DRIVER_HEAP = "3g"


def source_stamp():
    """Hash of every input to the build, and of where the checkout lives."""
    h = hashlib.sha256(str(ROOT).encode())
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (HERE / "src" / "main", LIB_SRC):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group if it outlives limit_s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(limit_s):
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    args_file = BUILD / "jvm.args"
    if stamp_file.exists() and args_file.exists() and stamp_file.read_text() == stamp:
        return args_file
    if shutil.which("sbt") is None:
        sys.exit("kgbench: sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "launcher"]
    print("kgbench: building library and benchmark with sbt", file=sys.stderr, flush=True)
    rc = run_bounded(cmd, limit_s, cwd=HERE, env=env, stdout=sys.stderr)
    if rc != 0 or not args_file.exists():
        sys.exit(f"kgbench: build failed (exit {rc})")
    stamp_file.write_text(stamp)
    return args_file


def main():
    # a terminated launcher takes its build or measuring JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not LIB_SRC.is_dir():
        sys.exit(f"kgbench: library sources not found at {LIB_SRC}")

    t0 = time.monotonic()
    args_file = build(BUILD_LIMIT_S)
    built_now = time.monotonic() - t0 > 5
    remaining = max(RUN_LIMIT_S, 880 - (time.monotonic() - t0)) if built_now else RUN_LIMIT_S

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"@{args_file}", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Xms{DRIVER_HEAP}",
           "kgbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores),
           "--work", str(WORK), "--spec", str(HERE / "workloads.json"),
           "--pins", str(HERE / "pins.json"), "--lib", str(LIB_SRC)]
    proc = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=remaining)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("kgbench: run did not finish in time")
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln)
    if not (lines and lines[-1].startswith("{")):
        sys.exit(f"kgbench: measuring JVM exited {proc.returncode} without a result")
    print(lines[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
