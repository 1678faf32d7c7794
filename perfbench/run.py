"""CDC lake benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload cdc_hot --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
then runs graftbench.Main on a local Spark session sized like the
test suite's. The last line of standard output is the JSON result;
everything the run writes stays under .bench_build/ in the checkout.
See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880


def driver_mem() -> str:
    """Heap as the test suite sizes it: half the RAM, clamped to 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t0 = time.monotonic()
    try:
        classes = build.build()
    except (SystemExit, subprocess.SubprocessError, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    built = time.monotonic() - t0 > 30
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    work = build.BUILD / "run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    logs = build.BUILD / "logs"
    shutil.rmtree(work, ignore_errors=True)
    for d in (work / "spark-local", work / "tmp", work / "scratch", logs):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=str(work / "spark-local"),
               SPARK_GRAFT_SCRATCH=str(work / "scratch"),
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               TMPDIR=str(work / "tmp"))
    cmd = [build.java()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: G1 resizing decisions otherwise move timings and RSS between runs
        f"-Xms{driver_mem()}", f"-Xmx{driver_mem()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
        # as build.sbt sets it: Spark's generated classes overflow the default
        # JIT code cache, after which code runs interpreted at run-specific spots
        "-XX:ReservedCodeCacheSize=1g",
        # a fixed young generation: G1 otherwise grows eden over most of the
        # heap, and first-touch page faults on it land at run-specific times
        "-Xmn1g",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work / "data"),
        "--trace-out", str(build.BUILD / "trace" / f"{a.workload}-seed{a.seed}.jsonl")]

    log_path = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    last = ""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(143)))
        deadline = time.monotonic() + limit
        timer = None
        try:
            timer = threading.Timer(max(1.0, limit), stop)
            timer.start()
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line
                else:
                    print(line, flush=True)
            rc = proc.wait()
        finally:
            if timer:
                timer.cancel()
            stop()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    if time.monotonic() > deadline:
        print(f"run exceeded {limit:.0f} s and was stopped; log: {log_path}", file=sys.stderr)
        return 3
    if rc != 0 or not last:
        tail = log_path.read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        print(f"benchmark JVM failed (exit {rc}); log: {log_path}", file=sys.stderr)
        return rc or 4
    result = json.loads(last)
    # the JVM reports every metric; the result carries exactly the ones
    # BENCHMARK.json declares for this mode
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        print(f"benchmark reported no {', '.join(missing)}", file=sys.stderr)
        return 5
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result), flush=True)
    # a failed correctness gate fails the run
    if not result["correct"] or result["failed"] > 0:
        print(f"correctness gate failed: {result['failed']} of {result['attempted']} operations; "
              f"log: {log_path}", file=sys.stderr)
        return 6
    return 0


if __name__ == "__main__":
    sys.exit(main())
