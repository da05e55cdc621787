"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/perfbench/classes.

A stamp over every source file's path and bytes skips the compile when
nothing changed. Run it directly to build ahead of time:

    python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
MAIN_SCALA = ROOT / "src" / "main" / "scala"
MAIN_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SCALA = BENCH_DIR / "src"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the one the
    PySpark package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
        except ImportError:
            raise BuildError("no Spark distribution found; set SPARK_HOME")
        home = Path(pyspark.__file__).parent
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {jars}; set SPARK_HOME to a Spark 4 distribution")
    return jars


def sources():
    if not MAIN_SCALA.is_dir():
        raise BuildError(f"program sources not found at {MAIN_SCALA}")
    files = sorted(MAIN_SCALA.rglob("*.scala")) + sorted(BENCH_SCALA.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([str(CLASSES), str(MAIN_RESOURCES), str(spark_jars() / "*")])


def build():
    files = sources()
    jars = spark_jars()
    stamp = stamp_of(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
