"""Run one benchmark workload against graft used as a library.

    python3 perfbench/run.py --workload search_local --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (see
build.py), then runs one JVM: Spark local[k] with k = min(2, cores), a
fixed heap, capped GC and JIT threads and one closed-loop client thread.
The last line of standard output is the JSON result; `--trace 1` reports
the per-layer metrics and writes every span to
`.bench_build/perfbench/traces/`.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("build", "search_local", "search_dist", "refresh")
HEAP = "3g"
# Spark task threads. With the driver, JIT and GC threads beside them, four
# task threads on a 4-vCPU VM leave no core spare, and every run then
# tracks the steal from the VM's neighbours; two task threads, two GC and
# two JIT compiler threads leave room for the driver's own work.
CORES = 2
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.ensure_built()
        jars = build.classpath_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    cores = min(CORES, os.cpu_count() or 1)
    work = build.out_dir() / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = build.out_dir() / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    trace_file = traces / f"{a.workload}-seed{a.seed}.json"

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([str(classes)] + jars),
            "perfbench.Main",
            f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"cores={cores}", f"work={work}",
            f"traceFile={trace_file}",
            # set-up time starts here, before the JVM exists
            f"launchMs={int(time.time() * 1000)}"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=str(work), text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("[perfbench] run timed out", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print(f"[perfbench] JVM exited {proc.returncode} without a result",
              file=sys.stderr)
        return proc.returncode or 4
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
