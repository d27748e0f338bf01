#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query --seed 1 --seconds 5 --trace 0

Run from the repository root.  The workload itself runs in a child
process (``perfbench/workload.py``) in its own session, so that this
process can sample the memory of the engine's processes (driver Python,
Spark JVM, Python workers; not the benchmark's oracle job) until the
timed loop ends and, at the end, stop every process the run started and
wait for each to exit.  All scratch data lives under
``.bench_work/`` in the current directory and is removed at the end;
traces are written to ``.bench_out/``.

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The exit code is non-zero when any output check failed, or when the run
could not complete (then no result line is printed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 150  # plus up to 20 s of clean-up: within the 180 s a run may take


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state (3rd of stat), ..., session id (6th); a zombie has exited
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared between processes (the
    forked Python workers share their parent's) are counted once."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class _MemSampler(threading.Thread):
    """Peak summed PSS of the engine's processes: every process of one
    session except the benchmark's oracle job (its pid is in the run's
    ``unsampled`` file), until the workload creates the ``mem.stop`` file
    (its timed loop has ended; only checks follow)."""

    def __init__(self, sid: int, work: str):
        super().__init__(daemon=True)
        self.sid = sid
        self.work = work
        self.peak = 0
        self.done = threading.Event()

    def _unsampled(self) -> set[int]:
        try:
            with open(os.path.join(self.work, "unsampled")) as fh:
                return {int(x) for x in fh.read().split()}
        except OSError:
            return set()

    def run(self) -> None:
        stop = os.path.join(self.work, "mem.stop")
        while not self.done.wait(0.2) and not os.path.exists(stop):
            pids = set(_session_pids(self.sid)) - self._unsampled()
            self.peak = max(self.peak, _pss_bytes(sorted(pids)))


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; wait for all."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            pass
        end = time.monotonic() + grace
        while _session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test only")
    ap.add_argument("--corrupt", action="store_true",
                    help="deliberately corrupt one checked output "
                         "(smoke test of the checker)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "sphinxsearchengine_spark")):
        print("run from the repository root: sphinxsearchengine_spark/ "
              "not found here", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".bench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        # Spark's Python workers import the engine from the checkout
        PYTHONPATH=os.pathsep.join([root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every temporary file of Python and of the JVMs stays in the run's directory
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work", work, "--out", out_dir,
        "--result", result_path,
    ] + (["--corrupt"] if args.corrupt else [])
    # a SIGTERM to this process still stops the workload's session (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True)
        sampler = _MemSampler(proc.pid, work)
        sampler.start()
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.done.set()
            sampler.join()
            _stop_session(proc.pid)
            proc.wait()
        if rc is None:
            print(f"workload did not finish within {RUN_LIMIT_S} s", file=sys.stderr)
            return 3
        try:
            with open(result_path) as fh:
                res = json.load(fh)
        except (OSError, ValueError):
            print(f"workload exited with code {rc} and no result", file=sys.stderr)
            return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace == 0:
        res["metrics"]["peak_pss_mb"] = {
            "value": sampler.peak / 2**20, "unit": "MB"}
    for line in res.pop("report", []):
        print(line)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
