#!/usr/bin/env python3
"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload city_mood --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and the benchmark from
source (see build.py), then runs one JVM that generates the workload's inputs
from the seed, sets up Spark and the program several times, measures the
workload through the program's public functions, checks the outputs and
prints, as the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are the per-layer metrics of a traced run (plus the tracing
overhead against an untraced run of the same seed), and the spans are written
to .bench_build/trace/. Every file a run writes lives under a temporary
directory in .bench_build/ that is deleted when the run ends.

Exit code 0 only when every output check passed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("city_mood", "curation_stream", "near_dup_batch")


def jvm_timeout_s(seconds, trace):
    """How long the JVM may take before it counts as hung: a fixed allowance
    for set-up, input generation and checks, plus the measured rounds (a
    traced run makes three), each a few times `seconds`.
    """
    return 100 + 4 * seconds * (3 if trace else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    trace_dir = os.path.join(build.BUILD, "trace")
    cmd = build.java(cp, work, f"-XX:SharedArchiveFile={build.ARCHIVE}", "perfbench.Main",
                     ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--cores", str(build.cores()), "--work", work, "--trace-dir", trace_dir])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timeout = jvm_timeout_s(a.seconds, a.trace)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: JVM exceeded {timeout}s, killed", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for line in lines:
        if line is not result:
            print(line, file=sys.stderr)
    if result is None:
        print(f"run: no result line (JVM exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(result)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
