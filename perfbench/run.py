#!/usr/bin/env python3
"""Era-pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the program and the harness from
source (``perfbench/build.py``, output in ``.bench_build/``), then runs one
workload in a JVM with all data under ``.perfbench_work/``.  The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  Spans of a traced run are kept in
``.perfbench_work/trace/``; everything else the run wrote is removed.
Workloads and metrics are described in ``perfbench/NOTES.md``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("cli-extract", "analyst-session")
JVM_SECONDS = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    args = p.parse_args()

    sys.path.insert(0, HERE)
    import build
    try:
        classpath = build.build()
    except (subprocess.CalledProcessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 3

    work = os.path.join(WORK, args.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(work, "data")]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost",
               SPARK_LOCAL_DIRS=os.path.join(work, "data", "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 4
    finally:
        keep_traces(work)

    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line, file=sys.stderr)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: no result (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 5
    print(json.dumps(result))
    return proc.returncode


def keep_traces(work):
    """Remove what the run wrote except its span files."""
    traces = os.path.join(work, "data", "trace")
    dest = os.path.join(WORK, "trace")
    if os.path.isdir(traces):
        os.makedirs(dest, exist_ok=True)
        for f in os.listdir(traces):
            shutil.move(os.path.join(traces, f), os.path.join(dest, f))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
