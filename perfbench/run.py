"""Benchmark entry point.

    python3 perfbench/run.py --workload {wire-mix,log-bulk,gates} \
        --seed N --seconds S --trace {0,1}

Run from the root of a flyq-spark checkout. Each run is a fresh child
process with a pinned environment (all cores, a bounded driver heap,
the checkout on PYTHONPATH for Spark's Python workers, Spark scratch
and temp files in a per-run directory that is removed at exit). The
last stdout line is the result object; the line before it records host
noise over the timed window. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

RUN_TIMEOUT_S = 170
PROGRAM = ("flyq_spark/engine.py", "flyq_spark/server.py", "__spark_entry__.py", "bench.py")


def pinned_env(root: str, run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=f"{min(2048, phys_mb // 4)}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def _stop_group(pgid: int) -> None:
    """Kill whatever the run left in its process group and wait until
    the group is empty."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: {root} is not a flyq-spark checkout (missing {missing})",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(root, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--t0", repr(t0), "--result", result_path,
        "--report-dir", os.path.join(out_dir, "out"),
    ]
    try:
        proc = subprocess.Popen(cmd, env=pinned_env(root, run_dir), stdout=sys.stderr,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
            rc = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for note in out["failures"]:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    print(json.dumps({"host": out["host"], "detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
