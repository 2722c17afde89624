"""Build file of the benchmark: compiles the library (src/main/scala of
the checkout) together with the benchmark's own Scala sources into one
jar, with the Scala compiler that ships in the Spark jars.

    python3 perfbench/build.py        # prints the jar

The output goes under .bench_build/ at the checkout root and is keyed
by a hash of every source file, so an unchanged tree is built once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars of the Spark install that ships a Scala compiler:
    $SPARK_HOME, else one whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark install with a Scala compiler: set SPARK_HOME")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    lib_files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    if not lib_files:
        raise SystemExit(f"no library sources under {lib}")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return lib_files + own


def build():
    """Compile and jar; returns the jar."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    jar = os.path.join(out, "graftbench.jar")
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return jar
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    for cmd in (["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                 "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                ["jar", "cf", os.path.join(tmp, "graftbench.jar"), "-C", classes, "."]):
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit(f"build step failed: {cmd[0]} {cmd[4] if len(cmd) > 4 else ''}")
    shutil.rmtree(classes)
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return jar


if __name__ == "__main__":
    print(build())
