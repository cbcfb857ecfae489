"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory under
.bench_build/perfbench, with the Scala compiler that ships in the Spark
distribution named by $SPARK_HOME. The program's build file is not used
or changed. A build is skipped when no source changed since the last one.

    python3 perfbench/build.py      # build (or confirm up to date), print the class dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark distribution")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources under {os.path.relpath(main, ROOT)}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    return files


def ensure():
    """Return the class directory, compiling first if a source changed."""
    jars = spark_jars()
    files = sources()
    scala = sorted(glob.glob(os.path.join(jars, "scala-*.jar")))
    compiler = [j for j in scala if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("perfbench: the Spark distribution lacks the Scala compiler jars")
    h = hashlib.sha256()
    for f in [*compiler, *files]:
        h.update(os.path.relpath(f, ROOT).encode())
        if f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes


if __name__ == "__main__":
    print(ensure())
