"""Build file of the benchmark.

Compiles the library sources (src/main/scala, with src/main/resources) and
the benchmark's own sources (perfbench/src) into one class directory, with
the Scala compiler that ships among Spark's jars ($SPARK_HOME/jars). The
output goes to .bench_build/classes at the root of the checkout and is
rebuilt only when a source file changed.

    python3 perfbench/build.py
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
LIB_SOURCES = ROOT / "src" / "main" / "scala"
LIB_RESOURCES = ROOT / "src" / "main" / "resources"
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the benchmark builds and runs against $SPARK_HOME/jars")
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    return jars


def _inputs() -> tuple:
    if not LIB_SOURCES.is_dir():
        raise BuildError(f"library sources not found: {LIB_SOURCES.relative_to(ROOT)}")
    scala = sorted(LIB_SOURCES.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = sorted(p for p in LIB_RESOURCES.rglob("*") if p.is_file()) if LIB_RESOURCES.is_dir() else []
    return scala, resources


def build() -> pathlib.Path:
    """Return the class directory, compiling first if any source changed."""
    jars = spark_jars()
    scala, resources = _inputs()
    digest = hashlib.sha256()
    for p in scala + resources:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    classes = OUT / "classes"
    stamp = OUT / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes

    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", f"{jars}/*", f"@{argfile}"]
    try:
        done = subprocess.run(cmd, cwd=ROOT, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile did not finish in {COMPILE_TIMEOUT_S} s")
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    for p in resources:
        target = staging / p.relative_to(LIB_RESOURCES)
        target.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, target)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
