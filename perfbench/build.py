"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark harness (`perfbench/scala`) with the Scala compiler shipped in
Spark's jar directory, into `.bench_build/classes-<source hash>/`.

A build is reused while no source file changes. Run it alone with
`python3 perfbench/build.py`; it prints the classes directory.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCES = ["src/main/scala", "perfbench/scala"]
BUILD_DIR = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the installed pyspark's."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise RuntimeError("no Spark jar directory found (set SPARK_HOME)")


def source_files():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise RuntimeError("missing source directory %s" % root)
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure():
    """Return (classes dir, source hash, build seconds or 0.0 if reused)."""
    import time
    files = source_files()
    sha = source_hash(files)
    out = os.path.join(BUILD_DIR, "classes-" + sha)
    if os.path.exists(os.path.join(out, ".ok")):
        return out, sha, 0.0
    t0 = time.perf_counter()
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, sha, time.perf_counter() - t0


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
