#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) into <checkout>/.bench_build/classes with
the Scala compiler that ships in Spark's jars directory.

The build is skipped when the sources have not changed since the last one
(their SHA-256 is stored beside the classes).

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """Spark's jars directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"perfbench: no jars directory under SPARK_HOME={home}")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit("perfbench: engine sources src/main/scala not found")
    return sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def digest(srcs: list) -> str:
    """SHA-256 over the sources' paths and contents."""
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Returns the classes directory, compiling first if the sources changed."""
    srcs = sources()
    want = digest(srcs)
    classes, stamp = BUILD / "classes", BUILD / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return classes
    staging = BUILD / f"classes.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(staging), "-classpath", cp] + [str(s) for s in srcs]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"perfbench: compilation failed ({done.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(want)
    return classes


if __name__ == "__main__":
    print(build())
