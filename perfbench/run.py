#!/usr/bin/env python3
"""marketdb benchmark entry point.

  python3 perfbench/run.py --workload {scan,load} \
      --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run happens in a child process group
with all its state (stores, checkpoints, event log, Spark scratch and
temp files) under ``.perfbench_work/`` in the checkout, which is deleted
afterwards. The last line of standard output is the JSON result; lines
starting with ``#`` before it describe the host and each operation type.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 170
DRIVER_MEM = "2g"


def group_pids(pgid: int) -> list[int]:
    """Live processes in process group ``pgid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_group(pgid: int) -> None:
    """Terminate what is left of the group and wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if group_pids(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def host_line() -> str:
    return f"nproc={len(os.sched_getaffinity(0))} load={os.getloadavg()[0]:.2f}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("scan", "load"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "marketdb_spark", "server.py")):
        print(f"no marketdb_spark package under {ROOT}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub))
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
            "TMPDIR": os.path.join(workdir, "tmp"),
        }
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", workdir,
    ]
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--spans", os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")]
    print(f"# host start {host_line()}", flush=True)
    log_path = os.path.join(workdir, "worker.log")
    out_path = os.path.join(workdir, "worker.out")
    try:
        with open(log_path, "w") as log, open(out_path, "w") as out_f:
            proc = subprocess.Popen(
                cmd, cwd=workdir, env=env, stdout=out_f, stderr=log,
                start_new_session=True,
            )
            try:
                proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"timed out after {TIMEOUT_S} s", file=sys.stderr)
                return 3
            finally:
                stop_group(proc.pid)
                proc.wait()
        if proc.returncode != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"worker exited with {proc.returncode}", file=sys.stderr)
            return 1
        with open(out_path) as f:
            out = f.read()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(f"# host end {host_line()}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
