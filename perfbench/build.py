"""Build file of the benchmark package.

Compiles graft's library sources (`src/main/scala`) together with the
benchmark harness (`perfbench/jvm`) into one class directory, using the
Scala compiler jar that ships with Spark. The output lands in
`.bench_build/classes-<source hash>` and is reused until a source changes.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the main build (`build.sbt`) compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BuildError(f"no SPARK_HOME and no unmanagedBase in {sbt}")
    return Path(m.group(1))


def sources(root):
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((root / "perfbench" / "jvm").glob("*.scala"))
    if not lib or not harness:
        raise BuildError(f"no graft sources under {root}/src/main/scala")
    return lib + harness


def source_hash(root, srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(root, classes):
    return os.pathsep.join([str(classes), str(root / "src" / "main" / "resources"),
                            str(spark_jars(root) / "*")])


def build(root):
    """Return the class directory for the current sources, compiling if needed."""
    root = Path(root).resolve()
    srcs = sources(root)
    out = root / BUILD_DIR
    classes = out / f"classes-{source_hash(root, srcs)}"
    if (classes / "BUILD_OK").exists():
        return classes
    jar_dir = spark_jars(root)
    if not list(jar_dir.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar under {jar_dir}")
    out.mkdir(exist_ok=True)
    for old in out.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    jars = str(jar_dir / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars] + [str(p) for p in srcs]
    with open(out / "build.log", "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac exited {rc}; see {out / 'build.log'}")
    (tmp / "BUILD_OK").touch()
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
