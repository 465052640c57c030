"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) into .bench_build/classes with the Scala compiler
that ships among Spark's jars. A build is reused while no source changes.

Usage, from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".bench_build"
CLASSES = WORK / "classes"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]

# Spark 4 on JDK 17 needs these outside spark-submit (they match build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark's jars not found (set SPARK_HOME)")
    return Path(home) / "jars"


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def sources() -> list:
    missing = [str(d) for d in SOURCES if not d.is_dir()]
    if missing:
        raise SystemExit(f"build: source directories missing: {', '.join(missing)}")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build() -> None:
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = CLASSES / ".stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    jars = spark_jars() / "*"
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", str(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", str(jars)] + [str(f) for f in files]
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("build: scalac failed")
    stamp.write_text(digest.hexdigest())


if __name__ == "__main__":
    build()
    print(f"built {CLASSES}", file=sys.stderr)
