"""graft benchmark: one command per workload run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source if needed (perfbench/build.py),
runs the workload in one JVM (perfbench.Main), and prints a human-readable
report followed, as the last line of standard output, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. Every file the
run reads or writes lives under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the package directory
import build  # noqa: E402

WORKLOADS = ("batch_pipelines", "stream_open_loop")
RUN_LIMIT_S = 170
# Fixed heap for comparable runs (retained_heap_mb depends on it); the
# repository's sbt default of 16g is more than a small shared box holds,
# and the workloads retain under 100 MB.
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def kill_group(pid):
    try:
        os.killpg(pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes, jars = build.ensure_built()
    t0 = time.time()
    work = os.path.join(build.BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", build.ROOT, "--work", work, "--result", result]
    # own process group: a timeout kills the JVM and the generator it runs
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        kill_group(proc.pid)
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        kill_group(proc.pid)
    if rc != 0 or not os.path.exists(result):
        print(f"perfbench: workload run failed (exit {rc})", file=sys.stderr)
        return rc or 4
    with open(result) as f:
        line = json.dumps(json.load(f))
    sys.stdout.flush()
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
