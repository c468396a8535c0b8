"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/scala`) with the Scala compiler that ships with Spark, into
`.bench_build/classes`. A stamp of every source's path, size and mtime
skips the compile when nothing changed.

    python3 perfbench/benchlib/build.py      # from the repository root
"""

import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars():
    """The jars of the Spark installation that ships this Scala compiler:
    $SPARK_HOME/jars, else the `jars` beside a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA_VERSION}.jar")):
            return d
    raise SystemExit("build: no Spark installation with Scala " + SCALA_VERSION + "; set SPARK_HOME")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "scala")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def jars():
    d = spark_jars()
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def classpath(out_dir):
    return os.pathsep.join([out_dir] + jars())


def source_digest(root):
    """sha256 over the contents of every compiled source."""
    h = hashlib.sha256()
    for s in sources(root):
        with open(s, "rb") as f:
            h.update(s[len(root):].encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def build(root, out_dir, log=sys.stderr):
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{s}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    stamp_file = out_dir + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(spark_jars(), f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "library", "reflect")]
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars()), "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(os.path.dirname(here))
    build(root, os.path.join(root, ".bench_build", "classes"))
