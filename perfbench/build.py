#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark program (perfbench/scala) with scalac, without sbt.

The Spark jars come from $SPARK_HOME/jars, or else from the directory that
build.sbt names as `unmanagedBase`; they also provide scala-compiler. Output
goes to .bench_build/main-<hash> and .bench_build/bench-<hash>; a build
whose sources are unchanged is reused.

Usage: python3 perfbench/build.py   (prints the classes directories)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def jars_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"scala compiler jars not found in {jars}")
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError(f"scalac failed for {out}")


def digest(files, *extra):
    h = hashlib.sha256()
    for e in extra:
        h.update(e.encode() + b"\0")
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0" + open(f, "rb").read())
    return h.hexdigest()[:16]


def compiled(target, jars, classpath, files):
    """Compiles `files` into `target` unless it already exists."""
    if os.path.isdir(target):
        return target
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        scalac(jars, classpath, tmp, files)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.rename(tmp, target)
    return target


def build():
    """Returns (main classes dir, bench classes dir, Spark jars dir)."""
    main_src = sources("src/main/scala")
    bench_src = sources("perfbench/scala")
    if not main_src:
        raise BuildError("no program sources under src/main/scala")
    jars = jars_dir()
    spark_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    main_key = digest(main_src, jars, open(os.path.abspath(__file__)).read())
    bench_key = digest(bench_src, main_key)
    os.makedirs(OUT, exist_ok=True)
    main = compiled(os.path.join(OUT, f"main-{main_key}"), jars, spark_cp, main_src)
    bench = compiled(os.path.join(OUT, f"bench-{bench_key}"), jars,
                     main + ":" + spark_cp, bench_src)
    for old in os.listdir(OUT):
        if os.path.join(OUT, old) not in (main, bench):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    return main, bench, jars


if __name__ == "__main__":
    try:
        print("\n".join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
