"""Tiling benchmark entry point.

    python3 tilebench/run.py --workload image_tiles --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Starts worker.py in a process
group of its own, with every temporary file under ``.tilebench/`` in
the checkout; kills the whole group on failure or timeout; then lists
any process the run left behind (each counts as a failed operation) and
prints the result as the last line of standard output. Exits non-zero,
printing no result, when the run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("image_tiles", "road_pyramid")
TIMEOUT_S = 165.0   # the whole run must end within 180 s
GRACE_S = 5.0       # time a leftover process gets to exit on its own
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphans of the run re-parent to this process instead of init, so
    they stay visible as descendants and can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("tilebench: prctl(PR_SET_CHILD_SUBREAPER) failed", file=sys.stderr)


def reap_all(timeout: float) -> bool:
    """Wait for every child (orphans included, see become_subreaper) to
    exit and be reaped, so none is left even as a zombie."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.05)


def kill_tree(pgid: int) -> None:
    """SIGKILL the worker's process group and every descendant (the
    PySpark daemon runs in a group of its own)."""
    victims = proctree.descendants(os.getpid())
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    for pid in victims:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    reap_all(10.0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vectortiles_spark", "__init__.py")):
        print("tilebench: run from a checkout root (no vectortiles_spark/ here)",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".tilebench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(base, f"result-{os.getpid()}.json")

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp}",
        # the allocator settings get_spark applies to the processes it
        # forks, exported here so the worker's own Python has them too
        "MALLOC_MMAP_MAX_": "0",
        "MALLOC_TRIM_THRESHOLD_": "1000000000",
        "MALLOC_MMAP_THRESHOLD_": "1000000000",
        "ARROW_DEFAULT_MEMORY_POOL": "system",
    })
    become_subreaper()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result_path]
    worker = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True,
                              stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        code = worker.wait(TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"tilebench: timed out after {TIMEOUT_S:.0f}s", file=sys.stderr)
        code = None
    except BaseException:
        kill_tree(worker.pid)
        raise
    if code != 0:
        kill_tree(worker.pid)
    left = proctree.wait_gone(proctree.descendants(os.getpid()), GRACE_S)
    for pid in left:
        print(f"tilebench: left behind: {proctree.describe(pid)}", file=sys.stderr)
    if left:
        kill_tree(worker.pid)
    if not reap_all(GRACE_S):
        print("tilebench: a child process could not be reaped", file=sys.stderr)
        left = left or [-1]
    shutil.rmtree(work, ignore_errors=True)

    if code != 0 or not os.path.exists(result_path):
        print(f"tilebench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        result = json.load(f)
    os.remove(result_path)
    # a process left behind counts as a failed operation
    failed = result["failed"] + len(left)
    print(f"tilebench: {args.workload} seed {args.seed}: {json.dumps(result['setup'])}",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"] + len(left),
                      "failed": failed, "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    t0 = time.monotonic()
    rc = main()
    print(f"tilebench: run took {time.monotonic() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
