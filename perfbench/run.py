"""Benchmark launcher for graft.

    python3 perfbench/run.py --workload table_validate --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), then starts
one JVM the way the repository runs graft (the JVM options of build.sbt, the
heap formula of the tier-1 command, `local[nproc]`) and runs one workload in
it. All generated inputs live in a per-run directory under `.bench_work/`,
which is deleted when the run ends. The last line of standard output is the
JSON result; with `--trace 1` the spans of the run are also written to
`<build dir>/traces/`.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("table_validate", "ingest_increments")
# A run that does not finish in this time is killed and reported as failed.
JVM_TIMEOUT_S = 170

# Same list as build.sbt's jdk17AddOpens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_size():
    """The heap of the tier-1 test command: half of host memory in GiB,
    clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def jvm_options(work):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap_size()}",
        "-XX:ReservedCodeCacheSize=2g",
        "-Dspark.sql.optimizer.excludedRules="
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # keep every file the JVM writes inside the run directory
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dlog4j2.configurationFile=" + os.path.join(
            build.HERE, "conf", "log4j2.properties"),
    ]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    classes = build.build()
    work = os.path.join(build.ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(build.build_dir(), "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    cmd = [build.java()] + jvm_options(work) + [
        "-cp", build.runtime_classpath(classes), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(len(os.sched_getaffinity(0))),
        "--work", work,
        "--trace-out", os.path.join(
            traces, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
    ]
    t0 = time.monotonic()
    # a terminated launcher takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s, killed")
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"run: JVM exited with {proc.returncode}")
    marker = "PERFBENCH_RESULT "
    lines = [l for l in out.splitlines() if l.startswith(marker)]
    if not lines:
        raise SystemExit("run: JVM printed no result")
    result = json.loads(lines[-1][len(marker):])
    print(f"run: {a.workload} seed {a.seed} took "
          f"{time.monotonic() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
