#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine (src/main/scala plus src/main/resources) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into one jar each under perfbench/.build. Each
stage is skipped when a digest of its inputs matches the one stored next to
its jar, so only the first run in a checkout pays for compilation.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, "perfbench", ".build")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find Spark's jar directory (set SPARK_HOME)")


def files_under(d, suffix=""):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_stage(name, sources, resources_dir, classpath, jars):
    out = os.path.join(BUILD, name + ".jar")
    stamp = os.path.join(BUILD, name + ".sha256")
    resources = files_under(resources_dir) if resources_dir and os.path.isdir(resources_dir) else []
    want = digest(sources + resources, extra=":".join(classpath))
    if os.path.isfile(out) and os.path.isfile(stamp) and open(stamp).read() == want:
        return out
    if not sources:
        raise BuildError(f"no sources for stage {name}")
    tmp = os.path.join(BUILD, name + ".classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, p))[0] for p in
                ("scala-compiler-2.13*.jar", "scala-library-2.13*.jar", "scala-reflect-2.13*.jar")]
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-cp", ":".join(classpath), "-d", tmp] + sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError(f"scalac failed for stage {name}")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, resources_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for p in files_under(tmp):
            z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.replace(out + ".tmp", out)
    with open(stamp, "w") as f:
        f.write(want)
    return out


def build():
    """Compile what is stale; return the runtime classpath as a list."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BuildError("run from the root of a graft checkout: src/main/scala is missing")
    jars = spark_jars_dir()
    spark_cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    os.makedirs(BUILD, exist_ok=True)
    engine = compile_stage("engine", files_under(engine_src, ".scala"),
                           os.path.join(ROOT, "src", "main", "resources"), spark_cp, jars)
    bench = compile_stage("bench", files_under(os.path.join(ROOT, "perfbench", "src"), ".scala"),
                          None, [engine] + spark_cp, jars)
    return [bench, engine] + spark_cp


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
