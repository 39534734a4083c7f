"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources into one class directory.

The Scala compiler and every library come from the Spark distribution
(`$SPARK_HOME/jars`, or the one `spark-submit` on PATH belongs to), so the
build needs neither sbt nor a network. Output goes under
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`) in the
checkout; a stamp over the source contents skips an up-to-date build.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"


class BuildError(Exception):
    pass


def out_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return Path(home) / "jars"


def classpath_jars() -> list:
    return sorted(str(p) for p in spark_jars().glob("*.jar"))


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    srcs = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not srcs:
        raise BuildError("no Scala sources")
    return srcs


def stamp(srcs: list, jars: list) -> str:
    h = hashlib.sha256()
    for j in jars:
        h.update(Path(j).name.encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    return h.hexdigest()


def ensure_built() -> Path:
    """Compile when the sources changed; return the class directory."""
    jars = classpath_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    classes = out_dir() / "classes"
    stamp_file = classes / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    staging = out_dir() / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = out_dir() / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", os.pathsep.join(jars), "@" + str(argfile)]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        raise BuildError(f"scalac exited {rc}")
    (staging / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
