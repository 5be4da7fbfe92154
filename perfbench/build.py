#!/usr/bin/env python3
"""Builds the graft engine and the benchmark's Scala runner with scalac.

Usage (from the repository root):  python3 perfbench/build.py

The engine is compiled from src/main/scala, with src/main/resources copied
beside its classes; the runner is compiled from perfbench/src against it.
Both use the Scala compiler and the jars that ship in $SPARK_HOME/jars, the
same jars build.sbt compiles against. Outputs go to .bench_build/ under the
repository root and are rebuilt only when a source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        sys.exit(f"perfbench: no engine sources under {main}")
    engine = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(main, "resources", "**", "*"), recursive=True)
                       if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine, resources, bench


def digest(paths, jars):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out, exist_ok=True)
    argfile = out + ".files"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", out, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def ensure_built(root):
    """Builds if needed; returns (classpath, source digest, whether it built)."""
    jars = spark_jars()
    engine, resources, bench = sources(root)
    stamp = digest(engine + resources + bench, jars)
    out = os.path.join(root, ".bench_build")
    engine_out, bench_out = os.path.join(out, "engine"), os.path.join(out, "bench")
    stamp_file = os.path.join(out, "stamp")
    classpath = [engine_out, bench_out] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, stamp, False
    # build beside the old output and swap at the end, so an interrupted
    # build leaves no stamp and the next run starts over
    tmp = f"{out}.tmp-{os.getpid()}"
    tmp_engine, tmp_bench = os.path.join(tmp, "engine"), os.path.join(tmp, "bench")
    print("perfbench: building the engine and the benchmark runner", file=sys.stderr)
    scalac(jars, jars, tmp_engine, engine)
    res_root = os.path.join(root, "src", "main", "resources")
    for r in resources:
        dst = os.path.join(tmp_engine, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    scalac(jars, [tmp_engine] + jars, tmp_bench, bench)
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return classpath, stamp, True


if __name__ == "__main__":
    ensure_built(os.getcwd())
