"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark jars, into .bench_build/ at the checkout root.

A build is reused while the hash of its sources is unchanged, so only the
first run in a checkout pays for it. Run it on its own with
`python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def _sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _spark_jars():
    """The directory of Spark jars build.sbt compiles against (unmanagedBase)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m is None or not os.path.isdir(m.group(1)):
        raise BuildError("no Spark jar directory (unmanagedBase) in build.sbt")
    return m.group(1)


def _compile(name, files, jars, classpath, key):
    """Compile `files` into .bench_build/<name>-<key>, or reuse it."""
    out = os.path.join(BUILD, f"{name}-{key}")
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith(name + "-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"{name}.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {name}:\n{proc.stdout[-4000:]}")
    os.rename(tmp, out)
    return out


def build():
    """Returns the runtime classpath (harness, engine, resources, Spark)."""
    jars = _spark_jars()
    engine_files = _sources(ENGINE_SRC) if os.path.isdir(ENGINE_SRC) else []
    if not engine_files:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    spark_cp = os.path.join(jars, "*")
    engine = _compile("engine", engine_files, jars, spark_cp, _digest(engine_files))
    harness_files = _sources(HARNESS_SRC)
    harness = _compile("harness", harness_files, jars, engine + os.pathsep + spark_cp,
                       _digest(harness_files, os.path.basename(engine)))
    return os.pathsep.join([harness, engine, RESOURCES, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
