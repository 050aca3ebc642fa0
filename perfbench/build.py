#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/scala) into one
class directory, with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py [OUT_DIR]     # from the repository root

The class directory is keyed by a hash of every source file, so an
unchanged tree is not rebuilt. Prints the class directory.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SOURCES = os.path.join("src", "main", "scala")
HARNESS_SOURCES = os.path.join("perfbench", "scala")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
        except ImportError:
            raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 distribution")
        home = os.path.dirname(pyspark.__file__)
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars}"
                         " (set SPARK_HOME)")
    return jars


def sources():
    files = sorted(glob.glob(os.path.join(PROGRAM_SOURCES, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"perfbench: no program sources under {PROGRAM_SOURCES}")
    harness = sorted(glob.glob(os.path.join(HARNESS_SOURCES, "*.scala")))
    if not harness:
        raise SystemExit(f"perfbench: no harness sources under {HARNESS_SOURCES}")
    return files + harness


def build(out_base):
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(out_base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    os.makedirs(out_base, exist_ok=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.abspath(os.path.join(tmp, "sources.txt"))
    with open(argfile, "w") as fh:
        fh.write("\n".join(os.path.abspath(f) for f in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", ".", "@" + argfile]
    log = os.path.join(out_base, "build.log")
    with open(log, "w") as fh:
        # run inside the (empty) output dir: the compiler's default
        # classpath includes ".", which must not expose repository dirs
        r = subprocess.run(cmd, cwd=tmp, stdout=fh, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode}), see {log}")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    for old in glob.glob(os.path.join(out_base, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "perfbench")))
