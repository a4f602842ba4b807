"""Build file of the benchmark: compiles the graft library from the
checkout's sources together with the benchmark's own Scala sources.

It uses the Scala compiler that ships with the Spark jars, so it needs no
build tool and no downloads, and writes only under `.bench_build/` at the
root of the checkout. Classes are cached by a digest of every source file:
a second run with the same sources reuses them.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the Spark installation the library builds and runs against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {SPARK_JARS} (is SPARK_HOME set?)")
    return jars


def _jar(jars, prefix):
    hits = [j for j in jars if os.path.basename(j).startswith(prefix)]
    if not hits:
        raise BuildError(f"{prefix}*.jar not found under {SPARK_JARS}")
    return hits[0]


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (classes directory, source digest), compiling if needed."""
    jars = spark_classpath()
    files = sources()
    tag = digest(files, jars)
    out = os.path.join(BUILD_DIR, "classes-" + tag)
    if os.path.exists(os.path.join(out, ".complete")):
        return out, tag
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [_jar(jars, p) for p in
                ("scala-compiler-", "scala-library-", "scala-reflect-")]
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.pathsep.join(jars), "@" + argfile]
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, tag


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
