"""Build file of the benchmark package.

Compiles the library's main sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) into `.bench_build/classes`,
with the Scala compiler version the repository's `build.sbt` names and
Spark's jars on the classpath. A stamp of every source's content skips
the compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars(root: Path) -> Path:
    """SPARK_HOME's jars, else the jar directory the repository's
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        jars = Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        raise BuildError("no Spark jars found; set SPARK_HOME")
    return jars


def scala_version(root: Path) -> str:
    sbt = root / "build.sbt"
    m = sbt.is_file() and re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt.read_text())
    if not m:
        raise BuildError("build.sbt with a scalaVersion is missing: not a checkout of the library")
    return m.group(1)


def compiler_classpath(version: str) -> list:
    """scala-compiler, -library and -reflect jars of `version`, from the
    coursier cache that sbt fills."""
    cache = Path(os.environ.get("COURSIER_CACHE", Path.home() / ".cache" / "coursier"))
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(cache.glob(f"**/org/scala-lang/{name}/{version}/{name}-{version}.jar"))
        if not found:
            raise BuildError(f"{name}-{version}.jar not found under {cache}")
        jars.append(str(found[0]))
    return jars


def sources(root: Path) -> tuple:
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not lib:
        raise BuildError("src/main/scala holds no sources: not a checkout of the library")
    if not bench:
        raise BuildError("perfbench/src holds no sources")
    return lib, bench


def build(root: Path) -> Path:
    """Compile if any source changed; return the classes directory."""
    version = scala_version(root)
    lib, bench = sources(root)
    digest = hashlib.sha256(version.encode())
    for f in lib + bench:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()

    out = root / ".bench_build"
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    scalac = compiler_classpath(version)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scalac), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(spark_jars(root) / "*"), "-d", str(tmp)]
    cmd += [str(f) for f in lib + bench]
    done = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-8000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
