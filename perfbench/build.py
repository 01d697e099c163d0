"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala` of the repository) together with the benchmark's own
(`perfbench/src`) with the Scala compiler that ships in Spark's jars dir,
into `perfbench/.build/classes`. A stamp of every source's content makes a
rebuild happen only when a source changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = BENCH / ".build"

# Spark 4.x on JDK 17 needs these when a session starts outside
# spark-submit (the same list the repository's build.sbt passes).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jars dir: `$SPARK_HOME/jars`, else the repository build's
    `unmanagedBase` (where its build.sbt takes the Spark jars from)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"program sources not found at {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def classpath():
    """Classpath of the built benchmark (compiled classes + Spark's jars)."""
    return f"{OUT / 'classes'}{os.pathsep}{spark_jars()}/*"


def ensure_built(log=sys.stderr):
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    digest.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    stamp = digest.hexdigest()
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    classes = OUT / "classes"
    shutil.rmtree(OUT, ignore_errors=True)
    classes.mkdir(parents=True)
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(s) for s in srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-classpath", f"{jars}/*", "-d", str(classes), "-nowarn",
         "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
         f"@{args_file}"],
        check=True, stdout=log, stderr=log)
    stamp_file.write_text(stamp)


if __name__ == "__main__":
    ensure_built()
