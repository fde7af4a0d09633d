"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload {replicate,bi} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run happens in a fresh Python process
(``worker.py``) in its own process group, on ``local[nproc]`` with
``SPARK_GRAFT_CPUS=nproc``; everything it writes stays under
``.bench_build/perfbench/`` in the checkout. The worker's record line (every
op time, in order) and its result line are printed only when it succeeds;
the last line is the result::

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

Exits non-zero, printing no result, when the worker fails or overruns.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: the worker must finish well inside the 180 s a run may take
TIMEOUT_S = 170


def _stop_group(proc: subprocess.Popen) -> None:
    """Terminate every process left in the worker's group (the worker, the
    Spark JVM and its Python workers) and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()  # reap the worker, or it lingers in the group
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    base = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spans = os.path.join(base, f"spans-{a.workload}-seed{a.seed}.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.getcwd(),
        PYTHONHASHSEED="0",
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--spans", spans,
    ]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {a.workload} overran {TIMEOUT_S}s", file=sys.stderr)
        out = None
    finally:
        _stop_group(proc)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or out is None:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
