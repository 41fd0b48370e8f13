#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (`src/main/scala`, plus its resources) and the
benchmark's own Scala sources (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution at `$SPARK_HOME`, so no build tool and no
network are needed:

    python3 perfbench/build.py        # prints the runtime classpath

Outputs go under `$CARGO_TARGET_DIR/perfbench` (default `.bench_build`), keyed
by a hash of every input file, so an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars_dir():
    if "SPARK_HOME" not in os.environ:
        raise BuildError("SPARK_HOME is not set")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Spark distribution with a Scala compiler under {spark_jars_dir()}")
    return jars


def sources(top, suffix):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, dest, srcs):
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", os.pathsep.join(classpath)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest}:\n{r.stdout[-4000:]}")


def build():
    """Compile what changed; return the runtime classpath as a list."""
    graft_srcs = sources(GRAFT_SRC, ".scala")
    bench_srcs = sources(BENCH_SRC, ".scala")
    if not graft_srcs:
        raise BuildError(f"no graft sources under {GRAFT_SRC}: run from the repository root")
    if not bench_srcs:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    jars = spark_jars()
    graft_inputs = graft_srcs + sources(GRAFT_RES, "")
    graft_out = os.path.join(out_dir(), "graft-" + digest(graft_inputs))
    bench_out = os.path.join(out_dir(), "bench-" + digest(graft_inputs + bench_srcs))
    for dest, cp, srcs in ((graft_out, jars, graft_srcs),
                           (bench_out, jars + [graft_out], bench_srcs)):
        if os.path.exists(os.path.join(dest, ".done")):
            continue
        kind = os.path.basename(dest).split("-")[0]
        for old in glob.glob(os.path.join(out_dir(), kind + "-*")):
            shutil.rmtree(old, ignore_errors=True)
        scalac(jars, cp, dest, srcs)
        if dest == graft_out and os.path.isdir(GRAFT_RES):
            shutil.copytree(GRAFT_RES, dest, dirs_exist_ok=True)
        open(os.path.join(dest, ".done"), "w").close()
    return [bench_out, graft_out, os.path.join(spark_jars_dir(), "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
