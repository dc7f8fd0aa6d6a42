"""Build file of the benchmark: compiles the program and the benchmark's JVM
side (perfbench/src) from source, in one scalac pass, into the build directory.

The program's sbt build is not used. The Scala compiler that ships with the
Spark distribution compiles `src/main/scala` and `perfbench/src` against the
Spark jars (about 25 s on 4 cores), resolves no dependencies and writes
nothing outside the build directory. Output is keyed by a hash of every
source file, so a run on unchanged sources reuses the previous build.

    python3 perfbench/build.py            # build, print the classes dir
"""

import hashlib
import importlib.util
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCE_DIRS = ("src/main/scala", "perfbench/src")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on PATH, else the jars the pyspark package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home:
        spec = importlib.util.find_spec("pyspark")
        if spec is None:
            raise BuildError("no Spark distribution: set SPARK_HOME")
        home = pathlib.Path(spec.origin).parent
    return pathlib.Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += sorted((ROOT / d).rglob("*.scala"))
    if not any(str(f).startswith(str(ROOT / SOURCE_DIRS[0])) for f in files):
        raise BuildError(f"no program sources under {ROOT / SOURCE_DIRS[0]}")
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def build():
    """Returns the classes directory, compiling first when sources changed."""
    files = sources()
    tag = source_hash(files)
    out = build_dir() / f"classes-{tag}"
    if (out / "BUILD_OK").exists():
        return out
    jars = spark_jars()
    if not jars.is_dir():
        raise BuildError(f"no Spark jars at {jars}")
    tmp = build_dir() / f"classes-{tag}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    argfile.unlink()
    (tmp / "BUILD_OK").write_text(tag + "\n")
    for old in build_dir().glob("classes-*"):
        if old != tmp and old.is_dir():
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
