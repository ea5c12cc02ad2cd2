#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source (see build.py), runs one
JVM on local[N] with N = the usable core count, and prints as the last
stdout line one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
Everything the run writes stays under perfbench/out/<workload>-s<seed>-t<trace>/;
the traced run leaves its spans (spans.jsonl) and per-layer report
(layers.tsv) there.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_churn", "curation_loops")
JVM_TIMEOUT_S = 165
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def main():
    a = parse()
    if a.seconds < 1:
        sys.exit("run: --seconds must be at least 1")
    try:
        classes = build.build()
        jars = os.path.join(build.spark_jars(), "*")
    except build.BuildError as e:
        print(f"run: build failed: {e}", file=sys.stderr)
        sys.exit(2)

    run_dir = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    tmp = os.path.join(data, "tmp")
    os.makedirs(tmp)
    result_file = os.path.join(run_dir, "result.json")
    cores = len(os.sched_getaffinity(0))

    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, build.ENGINE_RESOURCES, jars]), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--data", data, "--report", run_dir,
              "--result", result_file])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"run: benchmark JVM did not finish in {JVM_TIMEOUT_S}s, see {log_path}",
                  file=sys.stderr)
            sys.exit(3)
    # table roots, checkpoints and temp files are not part of the result
    shutil.rmtree(data, ignore_errors=True)
    if rc != 0 or not os.path.isfile(result_file):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"run: benchmark JVM exited with {rc}, see {log_path}", file=sys.stderr)
        sys.exit(4)
    with open(result_file) as fh:
        result = json.load(fh)
    summary = os.path.join(run_dir, "summary.txt")
    if os.path.isfile(summary):
        with open(summary) as fh:
            sys.stdout.write(fh.read())
    print(json.dumps(result))


if __name__ == "__main__":
    main()
