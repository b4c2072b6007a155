"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships among the Spark jars, into a directory keyed by a
hash of every input, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The jar directory of the Spark distribution: $SPARK_HOME's, or that
    of the first spark-submit on the PATH that sits in a distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark distribution found; set SPARK_HOME")


def sources():
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit("build: no program sources under src/main/scala")
    return sorted(files)


def source_id(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def classpath(classes, jars):
    return os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])


def build():
    """Compile if needed; returns (classes directory, source id)."""
    jars = spark_jars()
    files = sources()
    sid = source_id(files, jars)
    out = os.path.join(BUILD_DIR, f"classes-{sid}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out, sid
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, f"sources-{sid}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), f"@{argfile}"]
    print(f"build: compiling {len(files)} files into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac exited {r.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    if os.path.exists(out):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, out)
    return out, sid


if __name__ == "__main__":
    print(build()[0])
