"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Pins the host settings (all cores,
JVM heap, fresh scratch dirs inside the checkout), runs one workload
in a child process holding one local Spark application, and prints that
process's report line and, last, its result object. Every process the
run starts (Python, JVM, Python workers) is stopped and waited for
before this one exits.

Extra flags for the benchmark's own self-checks: ``--size tiny`` runs a
tiny input, and ``--plant row|digest|crash`` corrupts one output row or
one expected digest, or makes the second ETL drain raise, which must
show up as failed operations.
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

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "etl_gcp_function_tmabrasil_spark"
#: the JVM heap of local mode: the engine's 24g default exceeds a 15 GB host
HEAP = "4g"
TIMEOUT_S = 170


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session `sid`."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def _stop_session(sid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of session `sid` to end: the JVM exits once
    its parent's pipe closes and Python workers follow it; whatever is
    still alive after `grace_s` is killed."""
    deadline = time.monotonic() + grace_s
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _env(root: str, work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # every JVM (launcher and application): temp files inside the run's dir
        # and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant", choices=("row", "digest", "crash"), default=None)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"no {PACKAGE}/ in {root}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    payload = json.dumps({**vars(args), "work": work})
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), payload],
        cwd=root, env=_env(root, work), start_new_session=True,
    )
    # a terminated run still stops its processes (via the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rc = 124
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _stop_session(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
