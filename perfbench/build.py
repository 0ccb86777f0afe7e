"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`, plus its `src/main/resources`) together
with the benchmark (`perfbench/src`) using the Scala compiler that ships in the
Spark distribution, into `<build dir>/classes-<digest>/`. The digest covers
every source file, so an unchanged tree is compiled once and reused.

The build dir is `$CARGO_TARGET_DIR` when set (relative paths are taken from
the repository root), else `.bench_build`.

    python3 perfbench/build.py        # prints the classes directory
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


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars_dir():
    """The unmanaged jar directory the project's sbt build compiles against,
    else `$SPARK_HOME/jars`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sys.exit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def spark_jars():
    d = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        sys.exit(f"perfbench: no Spark jars under {d}")
    return jars


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"perfbench: engine sources not found at {main}")
    return _files(main, ".scala") + _files(os.path.join(HERE, "src"), ".scala")


def ensure():
    """Return the classes directory for the current tree, compiling if needed."""
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    res = _files(resources, "") if os.path.isdir(resources) else []
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars_dir(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(spark_jars())] + srcs
    print(f"perfbench: compiling {len(srcs)} sources into {out}", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    if res:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure())
