#!/usr/bin/env python3
"""Run one benchmark run of graft.

    python3 graftbench/run.py --workload shard_report --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The first run builds the program
and the harness with sbt (graftbench/build.sbt depends on the program's own
build); later runs reuse the build while no source file has changed. The
last stdout line is the result JSON; see graftbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".graftbench_work")
STAMP = os.path.join(HERE, "target", "graftbench.build")
WORKLOADS = ("shard_report", "shard_publish")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, for the rebuild check."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "graftbench/build.sbt",
            "graftbench/project/*.properties", "graftbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the run classpath, building first if any source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)")
    key = source_hash()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == key:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt build failed (exit {proc.returncode})")
    cp = next((l for l in reversed(lines)
               if l and not l.startswith("[") and ".jar" in l), None)
    if cp is None:
        fail("sbt printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"sources": key, "classpath": cp}, fh)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir,
            "--launched-ms", str(int(time.time() * 1000))]
    t_launch = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s")
        print(f"graftbench: JVM ended {time.time() - t_launch:.1f}s after "
              "launch", file=sys.stderr)
        lines = [l for l in out.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines:
            fail(f"benchmark JVM exited {proc.returncode}")
        result = json.loads(lines[-1])
        t_check = time.time()
        checked, failures = check.check_log(os.path.join(run_dir, "ops.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    result["failed"] += len(failures)
    result["correct"] = result["failed"] == 0
    for l in lines[:-1]:
        print(l)
    print("graftbench checks " + json.dumps({
        "ops_checked": checked, "check_s": time.time() - t_check,
        "failed_frac": result["failed"] / result["attempted"],
        "failures": failures[:10]}))
    for name, m in result["metrics"].items():
        print(f"graftbench metric {name} = {m['value']} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
