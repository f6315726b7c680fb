"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own JVM side (`perfbench/scala`) with the Scala compiler
that ships among the Spark jars, into `.bench_build/classes`.

The build is skipped when the sources have not changed since the last one
(a hash of every source path and its bytes). Run it alone with
`python3 perfbench/build.py` from the repository root.
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark jars: `$SPARK_HOME/jars`, else those of the installed
    pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        if spec is None:
            raise SystemExit("build: set SPARK_HOME or install pyspark")
        home = os.path.dirname(spec.origin)
    d = os.path.join(home, "jars")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(dirs[0]):
        raise SystemExit(f"build: no engine sources under {dirs[0]}")
    return sorted(os.path.join(r, f) for d in dirs
                  for r, _, fs in os.walk(d) for f in fs if f.endswith(".scala"))


def ensure(root):
    """Compile if needed; return the run-time classpath as a list."""
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    srcs = _sources(root)
    h = hashlib.sha1()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "classes.sha1")
    jars = spark_jars()
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
        subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + out, "-cp", os.pathsep.join(jars),
             "scala.tools.nsc.Main", "-nowarn", "-d", classes,
             "-classpath", os.pathsep.join(jars), "@" + argfile],
            check=True, stdout=sys.stderr)
        res = os.path.join(root, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, classes, dirs_exist_ok=True)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return [classes] + jars


if __name__ == "__main__":
    ensure(os.getcwd())
