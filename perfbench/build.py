"""Build file of the benchmark.

Compiles the program (`src/main/scala` and its resources) together with
the benchmark harness (`perfbench/src`) into `.bench_build/classes`, with
the Scala compiler that ships among Spark's jars: `$SPARK_HOME/jars`, the
jars `build.sbt` compiles against, else those of the `pyspark` package.
No sbt: the build reads only the checkout and the Spark jars, and writes
only under `.bench_build/`. A stamp of the sources skips the build when
nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"
CLASSES = os.path.join(OUT, "classes")


def jar_dir():
    """`$SPARK_HOME/jars`, or the jars the pyspark package ships."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def spark_jars():
    jars = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    if not jars:
        raise RuntimeError(f"no jars under {jar_dir()}")
    return jars


def _inputs():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise RuntimeError("no program sources under src/main/scala")
    srcs += sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    res = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                 if os.path.isfile(p))
    return srcs, res


def ensure():
    """Return the classes directory, compiling first if the sources changed."""
    jars = spark_jars()
    srcs, res = _inputs()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = os.path.join(OUT, "classes.stamp")
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
         "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("compilation failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    print(ensure())
