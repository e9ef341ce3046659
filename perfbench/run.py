"""End-to-end ETL benchmark: build, run one workload, print the result.

    python3 perfbench/run.py --workload full_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the harness (perfbench/build.py), then runs one
workload in one JVM and prints the result JSON as the last line of stdout.
Everything it writes stays under .bench_build/ in the repository root;
the per-run data directory is removed when the run ends.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("full_refresh", "daily_incremental")
JVM_LIMIT_S = 165

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm(classes: Path, main: str, args: list, work: Path) -> int:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java()]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # JIT compiler threads at twice the core count: the compile backlog of
    # Spark's planner then clears within the warm-ups instead of trending
    # down through the timed batches.
    cmd += ["-Xms1g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-XX:ActiveProcessorCount={cores()}", f"-XX:CICompilerCount={2 * cores()}",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp",
            f"{classes}{os.pathsep}{build.spark_jars()}/*", main] + args
    env = dict(os.environ, PERFBENCH_CORES=str(cores()))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         cwd=build.ROOT, start_new_session=True)
    try:
        return p.wait(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {JVM_LIMIT_S} s, killing it", file=sys.stderr)
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 124
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    classes = build.build(test=a.selftest)
    work = build.BUILD / "work" / (
        "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest:
            return jvm(classes, "perfbench.CheckSelfTest", [str(work)], work)
        result = work / "result.json"
        rc = jvm(classes, "perfbench.Main",
                 ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", str(work / "data"), "--result", str(result),
                  "--traces", str(build.BUILD / "traces")], work)
        if rc != 0 or not result.exists():
            print(f"perfbench: run failed (JVM exit {rc})", file=sys.stderr)
            return rc or 1
        print(result.read_text().strip())
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
