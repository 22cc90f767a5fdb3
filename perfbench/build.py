"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perfbench/src) into one class directory under
.perfbench/ with the Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py        # prints the class directory

The output directory is keyed by a hash of every source file, so an
unchanged tree is never recompiled and an edited one always is.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars beside
    the spark-submit on PATH, else the build definition's unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit(f"perfbench: no Spark jars found (tried {candidates}; set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        found = sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
        if not found:
            raise SystemExit(f"perfbench: no Scala sources under {d}")
        files += found
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Returns (class directory, source hash), compiling when needed."""
    files = sources()
    digest = source_hash(files)
    classes = os.path.join(OUT, "classes-" + digest[:16])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes, digest
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, f"tmp-classes-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    try:
        rc = subprocess.run(cmd, stdout=log, stderr=log, timeout=600).returncode
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {rc})")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, digest


if __name__ == "__main__":
    print(ensure_built()[0])
