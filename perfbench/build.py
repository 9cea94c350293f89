"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`, `src/main/resources`) together with
the benchmark's own Scala sources (`perfbench/scala`) into
`.bench_build/classes-<hash>` with the Scala compiler that ships in the Spark
distribution's jar directory. No sbt, no dependency resolution: the engine's
only runtime dependencies are the Spark jars themselves.

The output directory is keyed by a hash of every source file, so a checkout
builds once and later runs reuse the classes.

    python3 perfbench/build.py          # build (or reuse) and print the dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the engine's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def _sources(top, suffix):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def _fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Return the classes directory, compiling it first if it is missing."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    srcs = _sources(ENGINE_SRC, ".scala") + _sources(BENCH_SRC, ".scala")
    resources = _sources(ENGINE_RES, "") if os.path.isdir(ENGINE_RES) else []
    out = os.path.join(BUILD_DIR, "classes-" + _fingerprint(srcs + resources))
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    for res in resources:
        dst = os.path.join(tmp, os.path.relpath(res, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(res, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
