"""Benchmark launcher: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root.

It prepares the environment, runs the workload in a fresh process
(``perfbench/bench.py``), waits for it and every process it started,
removes its scratch directory, prints a readable summary and, as the
last line of standard output, the result JSON.

Environment given to the workload process:
- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (``nproc``);
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir`` under
  ``.perfbench_tmp/`` in the checkout, removed afterwards;
- ``PYTHONPATH`` = the checkout root, so Spark's Python workers import
  the package the same way the driver does;
- ``SPARK_GRAFT_DRIVER_MEM`` = 2g, a heap that fits the inputs and keeps
  the run small on a shared machine;
- ``JDK_JAVA_OPTIONS``: the temp dir above, no perf-data file in /tmp, and
  ``-XX:TieredStopAtLevel=1`` (compile with C1 only). With the optimizing
  compiler a run ends while it is still compiling the driver's hot paths,
  at a different point each run: the same seed read 350-438 ms median
  latency on viewer_reads; with C1 only, three seeds read 375-395 ms.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("viewer_reads", "archiver_ingest", "corpus_release")
CHILD_TIMEOUT_S = 165.0
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(pgid: int, grace_s: float) -> None:
    """Give the workload's process group (the driver JVM and its Python
    workers) ``grace_s`` to shut down on its own, then terminate what is
    left, and wait until it is gone."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not _group_alive(pgid):
            return
        try:
            if sig is not None:
                os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "epicsarchiver_spark", "__init__.py")):
        print("perfbench: the epicsarchiver_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    work = os.path.join(scratch, "work")
    local = os.path.join(scratch, "spark-local")
    for d in (work, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=scratch,
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData "
                         "-XX:TieredStopAtLevel=1",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    out = os.path.join(scratch, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.bench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    code = 1

    def interrupted(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    try:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, start_new_session=True,
                                stdout=sys.stderr)
        grace_s = 0.0
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
            grace_s = 10.0
        except subprocess.TimeoutExpired:
            print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S:.0f} s", file=sys.stderr)
            code = 124
        finally:
            _stop_group(proc.pid, grace_s)
            if proc.poll() is None:
                proc.wait()
        if code != 0 or not os.path.isfile(out):
            print(f"perfbench: workload process failed (exit {code})", file=sys.stderr)
            return code or 1
        with open(out) as f:
            payload = json.load(f)
        if args.trace:
            spans_src = os.path.join(work, "spans.jsonl")
            if os.path.isfile(spans_src):
                keep = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans_src, os.path.join(
                    keep, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    info = payload["info"]
    print(f"workload {info['workload']} seed {info['seed']}: {info['ops']} ops in "
          f"{info['window_s']:.2f} s (throughput unit {info['throughput_unit']})")
    print(f"tail percentile p{info['tail_percentile']:.1f} with "
          f"{info['tail_samples_beyond']} samples beyond it")
    print(f"window drift: first-half p50 {info['first_half_p50_ms']:.1f} ms, "
          f"second-half p50 {info['second_half_p50_ms']:.1f} ms")
    print(f"set-up: session {info['session_start_s']:.2f} s, "
          + ", ".join(f"{k} {v:.2f}" for k, v in info["setup"].items()))
    print("per-operation latency (ms): " + " ".join(
        f"{k}:{v}" for k, v in info["latencies_ms"]), file=sys.stderr)
    for line in info["failures"]:
        print(f"FAILED {line}")
    if "spans" in info:
        print(f"spans written: {info['spans']} (.perfbench_out/)")
    print(json.dumps(payload["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
