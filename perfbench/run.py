#!/usr/bin/env python3
"""Plumber pipeline benchmark: decode -> filter/map chain -> encode.

Run from the root of a checkout:

    python3 perfbench/run.py --workload avro_restructure --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # output checks catch corrupted outputs

Builds the program and the harness from source on first use (see build.py),
runs the workload through `graft.runtime.Main.run` in a JVM of its own, checks
every output against the generator's model and prints one JSON line last:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Spans of a traced run are written to .bench_build/traces/.
See README.md for the workloads and the metrics.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("avro_restructure", "time_strings", "stream_trickle")
JVM_HEAP = "2g"
# A run takes 30 to 60 s; past this the JVM and its generator are killed.
JVM_DEADLINE_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm(classpath, work, args):
    """Start the harness JVM; its stdout lines pass through to stderr."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=perfbench/log4j2.properties"]
           + opens + ["-cp", os.pathsep.join(classpath), "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(os.path.abspath(work), "spark-local"))
    # Own process group: the deadline also stops the stream generator the
    # JVM starts.
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    deadline = threading.Timer(JVM_DEADLINE_S, os.killpg, (proc.pid, signal.SIGKILL))
    deadline.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            print(line, end="", file=sys.stderr)
        return proc.wait(), lines
    finally:
        deadline.cancel()


def harness_args(mode, work, result, a):
    return ["--mode", mode, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--python", sys.executable, "--result", result,
            "--traces", os.path.join(build.BUILD_DIR, "traces")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required")
    if a.smoke:
        a.workload = "smoke"
    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.smoke:
            rc, _ = jvm(classpath, work, harness_args("smoke", work, "", a))
            print("smoke: " + ("ok" if rc == 0 else "FAILED"))
            return rc
        result_file = os.path.join(work, "result.json")
        rc, lines = jvm(classpath, work, harness_args("run", work, result_file, a))
        if rc != 0 or not os.path.isfile(result_file):
            print(f"[perfbench] harness exited with {rc}", file=sys.stderr)
            return rc or 1
        with open(result_file) as f:
            result = json.load(f)
        units = {m["name"]: m["unit"] for m in metric_specs()}
        for line in lines:
            if line.startswith(("trace_overhead:", "[perfbench] host:")):
                print(line)
        result["metrics"] = {k: {"value": v, "unit": units[k]}
                             for k, v in sorted(result["metrics"].items())}
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metric_specs():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return spec["end_to_end"] + spec["per_layer"]


if __name__ == "__main__":
    sys.exit(main())
