"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's JVM side (perfbench/src) with the Scala compiler that
ships in the project's jar directory, straight into
`.bench_build/classes` of the checkout. sbt stays out of it, so a build
reads the sources and the jar directory and writes only that folder.

The jar directory is the one `build.sbt` names as `unmanagedBase`; the
compiler must match `scalaVersion` there. A build is skipped when the
sources' hash equals the one stamped beside the classes.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def _sbt_setting(pattern: str) -> str:
    with open("build.sbt") as f:
        m = re.search(pattern, f.read())
    if not m:
        raise RuntimeError(f"build.sbt has no setting matching {pattern}")
    return m.group(1)


def jar_dir() -> str:
    return _sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def sources() -> list:
    found = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not found:
        raise RuntimeError("no engine sources under src/main/scala")
    return found + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def source_hash(files: list) -> str:
    h = hashlib.sha256()
    for f in files + ["build.sbt"]:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath() -> str:
    return os.path.join(BUILD_DIR, "classes") + os.pathsep + os.path.join(jar_dir(), "*")


def build() -> str:
    """Compile when the sources changed; return the source hash."""
    files = sources()
    stamp = source_hash(files)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    jars = jar_dir()
    version = _sbt_setting(r'scalaVersion\s*:=\s*"([^"]+)"')
    if not os.path.exists(os.path.join(jars, f"scala-compiler-{version}.jar")):
        raise RuntimeError(f"no scala-compiler-{version}.jar in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD_DIR, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files))
    subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"),
         "@" + args],
        check=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


if __name__ == "__main__":
    try:
        print(build())
    except (RuntimeError, OSError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
