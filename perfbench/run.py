"""Run one benchmark measurement and print its JSON result as the last line.

    python3 perfbench/run.py --workload <snapshot_diff|daily_ingest>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark first when a source changed (see
build.py), then runs one JVM (perfbench.Main) from the root of the checkout.
Everything the run writes stays under .bench_build/ there; its scratch
directory is removed at the end, span files of traced runs are kept in
.bench_build/traces/. Exits non-zero, after printing the result line, when
an output check failed, and without a result line when the build or the JVM
failed.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["snapshot_diff", "daily_ingest"]
# a run ends within 180 s, not counting a build
RUN_TIMEOUT_S = 170
HEAP_CAP = "2g"
# the module openings Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    started = time.monotonic()
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    deadline = RUN_TIMEOUT_S + (time.monotonic() - started)

    work = build.OUT / "run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # the heap grows with demand up to a cap, so that the resident-set
    # high-water mark is not just a configured heap size; the parallel
    # collector and two malloc arenas keep it from swinging with G1's region
    # sizing and per-thread arenas; no perf-data file in the system temp
    # directory, so the run writes only under .bench_build/
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP_CAP}", "-XX:+UseParallelGC",
           *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
           "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", args.trace, "--work", str(work),
           "--spans", str(build.OUT / "traces" / f"{args.workload}-seed{args.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            env={**os.environ, "MALLOC_ARENA_MAX": "2"})
    # a SIGTERM to this script stops the JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    found = [i for i, line in enumerate(lines) if line.startswith('{"correct"')]
    for i, line in enumerate(lines):
        if not found or i != found[-1]:
            print(line)
    if not found:
        print(f"perfbench: the run printed no result (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    json.loads(lines[found[-1]])
    print(lines[found[-1]])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
