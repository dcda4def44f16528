"""Benchmark entry point: builds the engine from source, runs one workload in a
fresh JVM and prints the result JSON as the last line of stdout.

Usage (from the repository root):
  python3 perfbench/run.py --workload html_commit --seed 1 --seconds 10 --trace 0

Workloads and metrics are declared in BENCHMARK.json; perfbench/LAYERS.md
says what each metric measures and on which workload it should move.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these module opens (the same
# list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_TIMEOUT_S = 170


def main() -> int:
    # on SIGTERM, unwind so that subprocess.run kills and reaps the JVM and
    # the work directory is removed
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    root = Path(__file__).resolve().parent.parent
    classpath = build.build(root)
    work = root / ".bench_build" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work), "--result", str(result)]
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
        sys.stdout.write(proc.stdout)
        if proc.returncode != 0 or not result.is_file():
            print(f"perfbench: run failed with exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print(result.read_text().strip(), flush=True)
        return 0
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
