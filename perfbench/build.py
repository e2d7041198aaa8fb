"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark's JVM side (`perfbench/scala`) with the Scala compiler that ships in
Spark's jar directory, into one class directory.

The output is reused while no source file changes (a stamp holds the hash of
every compiled file). sbt is not used, so the build writes nothing outside the
build directory.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars bundled with the pyspark package."""
    def compiler_in(home):
        jars = os.path.join(home, "jars")
        return jars if glob.glob(os.path.join(jars, "scala-compiler-*.jar")) else None
    jars = compiler_in(os.environ.get("SPARK_HOME", ""))
    if not jars:
        try:
            import pyspark
            jars = compiler_in(os.path.dirname(pyspark.__file__))
        except ImportError:
            pass
    if not jars:
        raise SystemExit("build: no Scala compiler in $SPARK_HOME/jars or in pyspark's jars (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(build_dir):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", classes, f"@{args_file}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp
