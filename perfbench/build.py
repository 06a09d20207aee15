"""Build file of the benchmark: compiles graft's main sources together with
the harness under `perfbench/src` against Spark's jars, with the Scala
compiler that ships among them. No sbt and no network.

    python3 perfbench/build.py          # prints the classes directory

Classes go to `$CARGO_TARGET_DIR` (default `.bench_build`) in a directory
named after a hash of every input, so an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars() -> str:
    """The Spark jars directory graft's build.sbt compiles against (`unmanagedBase`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          open(sbt).read())
    if not m:
        raise SystemExit(f"build: no `unmanagedBase := file(...)` in {sbt}")
    return m.group(1)


def _compiler_cp(spark_jars: str) -> str:
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars, f"{name}-2.13.*.jar")))
        if not found:
            raise SystemExit(f"build: {name} 2.13 jar not found in {spark_jars}")
        jars.append(found[-1])
    return os.pathsep.join(jars)


def ensure() -> tuple:
    """Return (classes directory built from the current sources, Spark jars directory)."""
    spark_jars = _spark_jars()
    main_src = os.path.join(ROOT, "src", "main", "scala")
    sources = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True))
    if not sources:
        raise SystemExit(f"build: no graft sources under {main_src}")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    resources = os.path.join(ROOT, "src", "main", "resources")
    inputs = sources + sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                              if os.path.isfile(p))
    h = hashlib.sha256()
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, spark_jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", _compiler_cp(spark_jars),
           "scala.tools.nsc.Main", "-d", tmp, "-classpath", os.path.join(spark_jars, "*"),
           "-nowarn", *sources]
    print(f"build: compiling {len(sources)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    for stale in glob.glob(os.path.join(out, "classes-*")):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, spark_jars


if __name__ == "__main__":
    print(ensure()[0])
