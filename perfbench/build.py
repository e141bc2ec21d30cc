#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

Compiles the engine from source (`src/main/scala`) together with
`perfbench/harness` into `.bench_build/perfbench/classes`, using the Scala
compiler that ships with the Spark distribution. sbt is not used, so the
build writes nothing outside the checkout and never touches `target/`.
A stamp over every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"
CLASSES = WORK / "classes"


def spark_home():
    """SPARK_HOME, or the Spark install whose spark-submit is on PATH."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else Path("spark-not-found")


SPARK_JARS = spark_home() / "jars"


def sources():
    """Engine and harness sources; the engine list is empty when the
    engine is not present."""
    engine = ROOT / "src" / "main" / "scala"
    harness = ROOT / "perfbench" / "harness"
    if not (engine / "graft").is_dir():
        return [], []
    return sorted(engine.rglob("*.scala")), sorted(harness.rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}:{SPARK_JARS}/*"


def ensure_built():
    """Compile when the sources changed; return the stamp of the engine
    sources alone, which the prebuilt stores are keyed on."""
    engine, harness = sources()
    files = engine + harness
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"perfbench: no Spark jars at {SPARK_JARS}")
    want = stamp(files)
    stamp_file = WORK / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return stamp(engine)
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    cp = f"{SPARK_JARS}/*"
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", cp] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    stamp_file.write_text(want)
    return stamp(engine)


if __name__ == "__main__":
    print(ensure_built())
