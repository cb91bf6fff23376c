"""Compile the program (src/main/scala) and the benchmark (perfbench/src)
into one jar with the Scala compiler shipped among the Spark jars the
repo's build.sbt names as its unmanagedBase.

The build is skipped when a stamp over every source file, the compiler and
the jar listing matches the one left by the last successful build.

    python3 perfbench/build.py      # prints the jar
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
JAR = BUILD / "perfbench.jar"
STAMP = BUILD / "perfbench.stamp"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jar directory the repo's build.sbt compiles against."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"{sbt} not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources() -> list:
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        raise BuildError(f"{prog} not found: run from a checkout of the repository")
    return sorted(prog.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def digest() -> str:
    """The build stamp; it also names the class-data archive run.py keeps."""
    return STAMP.read_text()


def build() -> Path:
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return JAR

    def jar(prefix):
        found = sorted(jars.glob(prefix + "-2.13*.jar"))
        if not found:
            raise BuildError(f"no {prefix} jar in {jars}")
        return str(found[-1])

    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    compiler_cp = os.pathsep.join(jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}{os.sep}*", "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    # a jar, not a directory: the JVM's class-data archive only covers jars
    tmp_jar = BUILD / "perfbench.jar.tmp"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    tmp_jar.replace(JAR)
    STAMP.write_text(stamp)
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
