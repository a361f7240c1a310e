#!/usr/bin/env python3
"""Build file of the GSMLS ETL benchmark.

Compiles the engine sources (``src/main/scala`` of the checkout) together
with the benchmark's own Scala sources (``perfbench/src``) with the Scala
compiler that ships in the Spark distribution, into
``$CARGO_TARGET_DIR`` (default ``.bench_build``) under the checkout.
The output directory is keyed by a content hash of every source file, so
a checkout builds once and later runs reuse the classes.

Run it directly to build without running:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the ``spark-submit`` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def scala_sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(engine):
        raise BuildError("engine sources missing: %s" % engine)
    files = []
    for top in (engine, bench):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(root, log=sys.stderr):
    """Compile if needed; return the directory holding the classes."""
    jars = spark_jars()
    sources = scala_sources(root)
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(
        sorted(glob.glob(os.path.join(jars, "scala-%s-2.13.*.jar" % m)))[-1]
        for m in ("compiler", "library", "reflect"))
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(build_dir(root), "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    print("perfbench: compiled %d sources in %.1fs" % (len(sources), time.time() - t0), file=log)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(1)
