#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  The workload runs in a child
process (``workload.py``).  This process samples the summed resident
memory of the child's whole process tree (Python driver, Spark JVM and
Python workers) for the traced run's ``host.peak_rss_mb``, waits for
every process of the tree to end, and prints the run's result as one JSON
object on the last line of stdout.  All files a run writes stay under
``perfbench/.work``.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 150.0
PR_SET_CHILD_SUBREAPER = 36


def descendants() -> list[int]:
    """Pids of every live, non-zombie process below this one."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def reap_all(grace_s: float = 20.0) -> None:
    """Wait for every remaining descendant to end, signalling stragglers."""
    t0 = time.time()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            # the rest are zombies; a multi-threaded one is still exiting
            # until its last thread ends, so block until each is reaped
            try:
                while True:
                    os.waitpid(-1, 0)
            except ChildProcessError:
                return
        waited = time.time() - t0
        if waited > grace_s + 10:
            print(f"processes {left} did not end", file=sys.stderr)
            return
        sig = (signal.SIGKILL if waited > grace_s
               else signal.SIGTERM if waited > grace_s / 2 else None)
        if sig is not None and sig != sent:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full",
                    help="input size: full (measured) or tiny (smoke test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="force one output mismatch (smoke test)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sketch_spark", "session.py")):
        print(f"sketch_spark not found under {ROOT}: run from a source "
              "checkout", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally below, which ends the tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # orphaned grandchildren (the Spark JVM, the PySpark worker daemon,
    # which makes its own process group) are re-parented here, so every
    # process of the run can be waited for
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--size", args.size]
    if args.trace:
        cmd += ["--spans", os.path.join(HERE, ".work", "spans",
                                        f"{run_id}.json")]
    if args.corrupt:
        cmd.append("--corrupt")

    peak = [0.0]
    done = threading.Event()

    def sample():
        while not done.wait(0.2):
            peak[0] = max(peak[0], rss_mb(descendants()))

    sampler = threading.Thread(target=sample, daemon=True)
    log_path = os.path.join(work, "workload.log")
    with open(log_path, "w") as err:
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                 stderr=err, text=True)
        sampler.start()
        grace = 2.0  # after a timeout, end the rest of the tree at once
        try:
            out, _ = child.communicate(timeout=TIMEOUT_S)
            grace = 20.0
        except subprocess.TimeoutExpired:
            child.kill()
            out, _ = child.communicate()
            print(f"workload exceeded {TIMEOUT_S:.0f}s", file=sys.stderr)
        finally:
            done.set()
            sampler.join()
            reap_all(grace)

    with open(log_path) as f:
        notes = [ln for ln in f if ln.startswith("# ")]
    sys.stderr.writelines(notes)
    lines = out.strip().splitlines()
    result = None
    if child.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None:
        print(f"workload failed (exit {child.returncode}); log kept at "
              f"{log_path}", file=sys.stderr)
        return 1
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        result["metrics"]["host.peak_rss_mb"] = {"value": peak[0], "unit": "MB"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
