"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's client (perfbench/src) with the Scala compiler that ships
in the Spark distribution, into a directory keyed by the hash of every
source file, so an unchanged tree is built once per checkout.

Usage: python3 perfbench/build.py   (prints the classpath it built)
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import tempfile


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_JARS_DIR, $SPARK_HOME/jars,
    or the jars of the installed pyspark package."""
    candidates = [os.environ.get("SPARK_JARS_DIR", "")]
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    for d in candidates:
        if d and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise BuildError("no Spark jars found (set SPARK_HOME or SPARK_JARS_DIR)")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    if not prog:
        raise BuildError("program sources src/main/scala/**/*.scala not found")
    if not bench:
        raise BuildError("benchmark sources perfbench/src/**/*.scala not found")
    return prog, bench


def _hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(jars, out, classpath, files, log):
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    with open(log, "ab") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")


def build(root, build_dir):
    """Returns the runtime classpath, compiling first if needed."""
    jars = spark_jars()
    prog, bench = sources(root)
    key = _hash(prog + bench + [os.path.abspath(__file__)])
    target = os.path.join(build_dir, "perfbench", key)
    cp = [os.path.join(target, "bench"), os.path.join(target, "program"),
          os.path.join(jars, "*")]
    if os.path.isdir(target):
        return os.pathsep.join(cp)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".building-", dir=os.path.dirname(target))
    try:
        log = os.path.join(tmp, "build.log")
        os.makedirs(os.path.join(tmp, "program"))
        os.makedirs(os.path.join(tmp, "bench"))
        _scalac(jars, os.path.join(tmp, "program"), os.path.join(jars, "*"),
                prog, log)
        _scalac(jars, os.path.join(tmp, "bench"),
                os.pathsep.join([os.path.join(tmp, "program"), os.path.join(jars, "*")]),
                bench, log)
        os.rename(tmp, target)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        print(build(os.getcwd() if len(sys.argv) < 2 else sys.argv[1],
                    os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
