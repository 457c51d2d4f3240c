#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (``src/main/scala`` of the checkout)
together with the benchmark's own (``perfbench/src``) into
``.bench_build/perfbench/classes``, with the Scala compiler that ships in
the Spark distribution's ``jars`` directory (``$SPARK_HOME``, else the one
``spark-submit`` on ``PATH`` belongs to). A digest of every source file
skips the compile when nothing changed.

Run from the root of a checkout:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution found; set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java found; set JAVA_HOME")
    return found


def sources(root: Path) -> list:
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found under {program}")
    files = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files


def build(root: Path) -> Path:
    """Compiles if needed; returns the classes directory."""
    files = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    for jar in sorted(p.name for p in jars.glob("*.jar")):
        digest.update(jar.encode())
    out = root / ".bench_build" / "perfbench"
    classes = out / "classes"
    stamp = out / "stamp"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", str(jars / "*")] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError(f"scalac failed with exit code {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
