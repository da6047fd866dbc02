"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own Scala sources with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME/jars), into .bench_build/classes.

    python3 perfbench/build.py        # from the root of a checkout

The build is skipped when a stamp of every source file matches the last
build. Exits non-zero when the engine sources or Spark are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("SPARK_HOME must point at a Spark distribution with jars/")
    return str(Path(home) / "jars" / "*")


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"missing source directory: {d.relative_to(ROOT)}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise SystemExit("no Scala sources found")
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Returns the classes directory, compiling first if the sources changed."""
    jars = spark_jars()
    files = sources()
    classes = OUT / "classes"
    want = stamp(files)
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT / 'tmp'}", "-cp", jars, "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", jars, "-nowarn", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    print(build())
