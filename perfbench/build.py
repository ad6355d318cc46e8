"""Build file of the benchmark: compiles the engine and the benchmark JVM.

The engine's own build points `unmanagedBase` at a Spark distribution's
`jars/` directory; that distribution also ships the matching Scala compiler,
so this compiles `src/main/scala` (the engine) together with
`perfbench/scala` (the harness) in one `scalac` run, with no resolver and no
network. Output goes to `.bench_build/` under the checkout (or
`$CARGO_TARGET_DIR` when set), keyed by a digest of every source file, so a
second run with unchanged sources skips the compile.

Usage: python3 perfbench/build.py   (prints the classpath)
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


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    """The Spark jars directory: `$SPARK_HOME/jars`, else the engine build's
    `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME or keep build.sbt's unmanagedBase)")


def sources(root=ROOT):
    src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not src:
        raise BuildError("engine sources src/main/scala are missing")
    own = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return src + own


def build_dir(root=ROOT):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def ensure_built(root=ROOT, log=sys.stderr):
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    resources = os.path.join(root, "src/main/resources")
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            h.update(open(f, "rb").read())
    digest = h.hexdigest()[:16]
    out = os.path.join(build_dir(root), f"classes-{digest}")
    stamp = os.path.join(out, ".complete")
    if not os.path.exists(stamp):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build_dir(root), "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac failed with exit code {r.returncode}")
        if os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(build_dir(root), "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return out + os.pathsep + os.path.join(jars, "*"), digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
