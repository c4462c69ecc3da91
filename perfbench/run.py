"""graft benchmark: one command, one JVM, Spark local[4].

    python3 perfbench/run.py --workload <hub-skew|resume> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
then runs one workload in a single JVM (perfbench.Main): it generates the
workload's seeded transcript table, derives the graph with graft.graph,
runs rounds of the workload's jobs through Pregel.run / graft.algos /
TriangleCount (at least one, more while a whole round fits in
--seconds), and checks every job against a driver-side reference
implementation. It prints the input shape and
every metric by name and unit, and as its last line one JSON object with
the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.

Everything it writes (classes, Spark scratch space, checkpoints, span
dumps) stays under .bench_build/perfbench in the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("hub-skew", "resume")
# The JVM gets this long before it is killed; the whole run must end
# within 180 s, and the measured window plus set-up is far shorter.
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def main(argv):
    args = parse_args(argv)
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", work, "--trace-dir", os.path.join(build.OUT, "traces")])
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    last = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=work)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        # The JVM prints the report lines and, last, the result object;
        # relay everything but the result, which is printed once checked.
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        rc = proc.wait()
        timed_out = not watchdog.is_alive()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        print("[perfbench] JVM timed out after %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        return 3
    if rc != 0:
        if last is not None:
            print(last, flush=True)
        print("[perfbench] JVM exited with %d" % rc, file=sys.stderr)
        return 4
    try:
        result = json.loads(last or "")
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print("[perfbench] no result line from the JVM", file=sys.stderr)
        return 5
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
