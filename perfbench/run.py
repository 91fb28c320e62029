#!/usr/bin/env python3
"""Per-PR benchmark of graft: builds the harness from source, runs one
workload in one JVM and prints the result JSON as the last stdout line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds graft and the harness
with sbt (offline); later runs reuse the build while no source is newer.
Query inputs are the sf0.1 tables in SPARK_GRAFT_SF_DIR, by default the
directory TESTDATA.md names; ingest inputs are generated from --seed.
Everything a run writes goes under .bench_work/ (deleted when the run ends)
and .bench_out/ (trace files). The workloads, their expected outputs and the
layer-to-metric map are in perfbench/workloads.json.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, "workloads.json")
LAUNCH = os.path.join(HERE, "target", "launch.args")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sf01_dir():
    """The sf0.1 table directory TESTDATA.md names (graft.Bench's default)."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*sf0\.1)/?`", f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_GRAFT_SF_DIR: TESTDATA.md names no sf0.1 directory")
    return m.group(1)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile graft and the harness; sbt writes the JVM launch arguments."""
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "launchArgs"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {r.returncode})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner takes its sbt or JVM child down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no graft sources to build")
    with open(SPEC) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    data = os.environ.get("SPARK_GRAFT_SF_DIR") or sf01_dir()
    if not os.path.isfile(os.path.join(data, "documents.parquet")):
        fail(f"no sf tables in {data}")

    build()

    # a fresh scratch dir per run: stores, fixtures and sink outputs are
    # built again every run, and nothing lands outside it
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed-size heap, so heap resizing adds no run-to-run variance;
    # -UsePerfData: the JVM writes no hsperfdata file outside the checkout
    heap = spec["environment"]["heap"]
    cmd = ["java", f"@{LAUNCH}", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "graft.perfbench.Harness",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--spec", SPEC, "--work", work,
           "--out", os.path.join(ROOT, ".bench_out")]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"harness exit {proc.returncode}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    for k, v in sorted(result["metrics"].items()):
        print(f"{k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    failed, attempted = result["failed"], result["attempted"]
    print(f"failed_share = {failed / attempted:.6g} share ({failed} of {attempted})",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
