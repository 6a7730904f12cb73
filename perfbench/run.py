#!/usr/bin/env python3
"""Pipeline benchmark: runs one workload and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call compiles the program's sources together with the
benchmark's; later calls reuse the classes while the sources are
unchanged. Everything a run writes stays under perfbench/.work. The last
line of standard output is the result object; progress goes before it.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CLASSES = WORK / "classes"
STAMP = WORK / "classes.stamp"
WORKLOADS = ("etl_hourly_jdbc", "etl_backfill_parquet")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (the same list the program's own build forks with).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build() -> str:
    """Compiles program + benchmark unless the last build saw the same sources.

    The Scala compiler of the program's Spark jars (the directory its
    build.sbt names as unmanagedBase, as perfbench/build.sbt reads it) runs
    directly: no build tool, no files outside perfbench/.work.
    """
    program = ROOT / "src" / "main"
    program_build = ROOT / "build.sbt"
    if not (program / "scala").is_dir() or not program_build.is_file():
        fail(f"no program sources at {program / 'scala'}")
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', program_build.read_text())
    if not m or not Path(m.group(1)).is_dir():
        fail("the program's build.sbt names no jar directory (unmanagedBase)")
    jars = Path(m.group(1))
    sources = sorted([*(program / "scala").rglob("*.scala"), *(BENCH / "src").rglob("*.scala")])
    stamp = hashlib.sha256("\n".join(
        f"{p} {p.stat().st_size} {p.stat().st_mtime_ns}" for p in [*sources, jars]).encode()).hexdigest()
    classpath = os.pathsep.join([str(CLASSES), str(program / "resources"), str(jars / "*")])
    if STAMP.is_file() and STAMP.read_text() == stamp:
        return classpath
    print("[perfbench] compiling program and benchmark", flush=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    args = WORK / "scalac-args.txt"
    args.write_text("\n".join(f'"{a}"' for a in ["-usejavacp", "-nowarn", "-d", CLASSES, *sources]))
    try:
        proc = subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={WORK}", "-cp", str(jars / "*"),
             "scala.tools.nsc.Main", f"@{args}"],
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (scalac exit {proc.returncode})")
    STAMP.write_text(stamp)
    return classpath


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home, "bin", "java")) if home else "java"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    # a terminated benchmark takes its build or its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    if importlib.util.find_spec("duckdb") is None:
        fail(f"the oracle needs DuckDB, which {sys.executable} cannot import")
    classpath = build()
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # A fixed heap, and a C1-only JIT with the tiered default's code cache:
    # compiled code settles within the first runs instead of drifting over a
    # dozen, and no C2 threads compete with the measured work for the cores.
    jvm = ["-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
           "-XX:-UsePerfData", "-Duser.timezone=UTC"]
    cmd = [
        java(), *ADD_OPENS, *jvm,
        f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={work / 'derby.log'}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-cp", classpath, "perfbench.PipelineBench",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--work", str(work), "--bench", str(BENCH),
        # the oracle runs on this interpreter, the one that has DuckDB
        "--python", sys.executable,
    ]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL)
    try:
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        if code != 0:
            fail(f"benchmark process exited with {code}")
        result = json.loads((work / "result.json").read_text())
        bad = [k for k, m in result["metrics"].items() if not math.isfinite(m["value"])]
        if bad:
            fail(f"metrics without a value: {', '.join(bad)}")
        spans = work / "spans.json"
        if spans.is_file():
            (WORK / "traces").mkdir(exist_ok=True)
            shutil.copy(spans, WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
