"""Run one benchmark workload and print its result JSON as the last line.

    python3 perfbench/run.py --workload route_agg --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark first when their sources changed (see
build.py), then starts one JVM with a `local[nproc]` Spark session. The
first run after a build also dumps a class-data archive that later runs
load, which cuts JVM and Spark start-up by a few seconds; it changes class
loading only, not the code that runs. All inputs, outputs and Spark
scratch space live under .bench_build/ in the checkout. Exits non-zero
without a result when the checkout has no program to build or the run
fails.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["route_agg", "conf_files"]
RUN_TIMEOUT_S = 170
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        jar = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = build.BUILD / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    archive = build.BUILD / f"classes-{build.digest()[:16]}.jsa"
    dump = build.BUILD / f"classes-{os.getpid()}.jsa.tmp"
    cds = (f"-XX:SharedArchiveFile={archive}" if archive.is_file()
           else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}",
           "-cp", f"{jar}{os.pathsep}{jars}{os.sep}*", "graftbench.Main"]
    if a.selftest:
        return subprocess.run(cmd + ["--selftest"], cwd=build.ROOT, timeout=RUN_TIMEOUT_S).returncode
    cores = len(os.sched_getaffinity(0))
    cmd[1:1] = [cds]
    cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work", str(work)]
    t0 = time.monotonic()
    try:
        res = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                             timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        dump.unlink(missing_ok=True)
        return 3
    if dump.is_file():
        if res.returncode == 0:
            dump.replace(archive)
        else:
            dump.unlink()
    lines = res.stdout.splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            obj = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = lines.pop(i)
            break
    for line in lines:
        print(line)
    if res.returncode != 0 or result is None:
        print(f"[perfbench] run failed (exit {res.returncode}) after "
              f"{time.monotonic() - t0:.1f} s", file=sys.stderr)
        return res.returncode or 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
