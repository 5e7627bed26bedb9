"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) and the benchmark sources (perfbench/src) with the Scala
compiler that ships in the Spark distribution, into .bench_build/perfbench.
A stamp of every source's content makes later builds no-ops.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def out_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """Jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution with a jars/ dir."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        found = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if found:
            return found
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from the repository root")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine + bench


def ensure(root):
    """Build if the sources changed; return the run classpath."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(p[len(root):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    resources = os.path.join(root, "src", "main", "resources")
    classpath = os.pathsep.join([classes, resources] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath

    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark distribution has no Scala %s compiler" % SCALA)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-classpath", os.pathsep.join(jars), "-d", tmp, "-nowarn",
           "-Ybackend-parallelism", "4", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout.decode("utf-8", "replace")[-6000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        ensure(os.getcwd())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
