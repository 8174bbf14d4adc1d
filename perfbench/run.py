#!/usr/bin/env python3
"""Benchmark of graft's HTTP lookup join, HTTP sink and near-dup operators.

Run from the repository root:

    python3 perfbench/run.py --workload lookup_wire --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Workloads: lookup_cached, sink_batch, dedup_near (see BENCHMARK.json), and
lookup_wire, which is kept runnable but left out of BENCHMARK.json to fit
the run-time budget. The first run compiles graft's sources (src/main) together
with the benchmark's own (perfbench/src) into .bench_build/ with the Scala
compiler shipped in Spark's jars; later runs reuse that build until a source
changes. Each run then starts one JVM and prints one `metric` line per
metric followed by one JSON result line.

Exits non-zero without a result when the sources or the Spark jars are
missing, the build fails, or the run does not finish in time.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def source_files():
    for d in SOURCES:
        if not d.is_dir():
            fail(f"source directory {d.relative_to(ROOT)} is missing")
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    resources = sorted(p for p in RESOURCES.rglob("*") if p.is_file()) if RESOURCES.is_dir() else []
    return files, resources


def build(jars):
    """Compile into .bench_build/classes unless it is already current."""
    files, resources = source_files()
    digest = hashlib.sha256()
    for p in files + resources:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = digest.hexdigest()
    classes = BUILD / "classes"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = BUILD / "stamp"
        if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return classes
        staging = BUILD / "classes.staging"
        shutil.rmtree(staging, ignore_errors=True)
        staging.mkdir()
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(f'"{p}"' for p in files) + "\n")
        t0 = time.time()
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
        cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(staging), f"@{argfile}"]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            fail("compilation failed")
        for r in resources:
            dest = staging / r.relative_to(RESOURCES)
            dest.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, dest)
        shutil.rmtree(classes, ignore_errors=True)
        staging.rename(classes)
        stamp_file.write_text(stamp)
        print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
        return classes


def launch(jars, classes, args):
    """Run the benchmark JVM; returns its stdout lines, or exits on failure."""
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
             "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.work={BUILD}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd = [java(), *opts, "-cp", f"{classes}{os.pathsep}{jars}/*",
           "graft.perfbench.Main", *args]
    # keep Spark's scratch space inside the checkout even when the
    # environment points it elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(BUILD / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"no result within {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"benchmark exited with code {proc.returncode}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="check the benchmark's own generators and helpers")
    a = ap.parse_args()
    if not a.self_check and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    classes = build(jars)
    if a.self_check:
        lines = launch(jars, classes, ["--self-check"])
        print("\n".join(lines))
        return
    lines = launch(jars, classes, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace)])
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write("\n".join(lines) + "\n")
        fail("the benchmark printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
