"""Build the engine and the benchmark harness from source.

Compiles the engine (src/main/scala, plus any src/main/java) and the harness
(perfbench/src) with the Scala compiler that ships in Spark's jars directory,
into .bench_build/perfbench/classes-<hash>. The hash covers every source
file, so an unchanged tree reuses its build and a changed one builds afresh.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: the one the repo's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m:
        jars = m.group(1)
    elif os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise BuildError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main")
    files = []
    for base in (os.path.join(engine, "scala"), os.path.join(engine, "java"),
                 os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files.sort()
    if not any(f.startswith(os.path.join(engine, "scala") + os.sep) for f in files):
        raise BuildError(f"no engine sources under {engine}/scala")
    return files


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    java = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp]
    r = subprocess.run(java + ["scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                               "-classpath", cp] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    javas = [f for f in files if f.endswith(".java")]
    if r.returncode == 0 and javas:
        r = subprocess.run(["javac", "-nowarn", "-d", tmp, "-cp", f"{tmp}:{cp}"] + javas,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".done"), "w").close()
    try:
        os.replace(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
