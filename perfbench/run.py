"""Benchmark entry: builds the program and the benchmark from source, runs
one workload in one JVM at local[nproc], and prints the run's JSON result
as the last line of stdout.

    python3 perfbench/run.py --workload extract-web --seed 1 --seconds 12 --trace 0

Run it from the repository root. See perfbench/README.md for the
workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("extract-web", "curate")
# A run must end within 180 s, or 900 s when it builds; the JVM gets what
# is left after the build.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890
# A fixed heap: no resizing during a run, and the heap's pages are all in
# use by the end of warm-up, so peak RSS is heap plus what the process
# holds outside it.
HEAP = "1536m"

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared_metrics(root, trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    # a terminated run still stops its JVM (see the handlers below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    t_build = time.monotonic()
    classpath, compiled = build.build(root)
    build_s = time.monotonic() - t_build

    out_dir = build.build_dir(root)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(out_dir, "logs"), exist_ok=True)
    log_path = os.path.join(out_dir, "logs", f"{tag}.log")
    trace_out = os.path.join(out_dir, "trace", f"{tag}.tsv")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--trace-out", trace_out])
    limit = (BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S) - build_s

    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.stderr.write(f"perfbench: {tag} exceeded {limit:.0f} s; log: {log_path}\n")
            return 3
        except BaseException:
            proc.send_signal(signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            raise
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(f"perfbench: {tag} printed no result (exit {proc.returncode}); "
                         f"log: {log_path}\n")
        return proc.returncode or 4
    declared = declared_metrics(root, a.trace == "1")
    if declared is not None and sorted(declared) != sorted(result["metrics"]):
        sys.stderr.write(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"{sorted(set(declared) ^ set(result['metrics']))}\n")
        return 5
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
