"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The workload runs in a fresh child
process (``worker.py``) on ``local[nproc]``; this parent samples the
proportional resident memory of the child's whole process tree (Python
driver, JVM, Python workers), makes sure every process it started has
ended, and prints two lines: a ``detail`` line with host facts, checks
and the result fingerprint, then the result object with the metrics
``BENCHMARK.json`` names.  Exits non-zero if a check fails or the run
cannot complete.
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
WORK_DIR = ".perfbench_work"     # under the checkout root, git-ignored
SPANS_DIR = os.path.join(WORK_DIR, "spans")   # kept after a traced run
RUN_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses < 1)")
    return ap.parse_args(argv)


def session_pss_mb(sid: int) -> float:
    """Proportional set size of every process in session ``sid``: pages
    shared between processes (forked Python workers) count once in
    total, where summed RSS would count them once per process."""
    total = 0.0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid:  # field 6 of stat: session id
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) / 1024
                        break
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue  # the process ended between listing and reading
    return total


class PeakSampler(threading.Thread):
    INTERVAL_S = 0.1

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0.0
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(self.INTERVAL_S):
            self.peak = max(self.peak, session_pss_mb(self.sid))


def reap_all(sid: int) -> None:
    """Kill whatever is left of the child's session and wait for every
    descendant (this process is their subreaper) to end."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)
    raise RuntimeError("descendant processes did not exit")


def declared_metrics(root: str, trace: int) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if not os.path.isdir(os.path.join(root, "flink_ml_spark")):
        print("perfbench: no flink_ml_spark package in the working "
              "directory; run from the root of a checkout", file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    units = declared_metrics(root, args.trace)

    work = os.path.join(root, WORK_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    out_path = os.path.join(work, "result.json")
    facts = host.facts(root)
    facts["loadavg_before"] = host.loadavg()
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", str(args.scale), "--work", work, "--out", out_path,
           "--spans-dir", os.path.join(root, SPANS_DIR)]
    # the child's stdout carries engine chatter; keep ours for results
    child = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr,
                             start_new_session=True)
    sampler = PeakSampler(child.pid)
    sampler.start()
    try:
        child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        sampler.done.set()
        sampler.join()
        reap_all(child.pid)
    facts["loadavg_after"] = host.loadavg()

    try:
        with open(out_path) as f:
            result = json.load(f)
    except FileNotFoundError:
        result = {"error": "worker wrote no result"}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass  # another run is using it
    if "metrics" not in result:
        print(f"perfbench: run failed: {result.get('error')}",
              file=sys.stderr)
        return 1

    values = result["metrics"]
    if not args.trace:
        values["peak_rss_mb"] = sampler.peak
    if set(values) != set(units):
        print(f"perfbench: metrics {sorted(set(values) ^ set(units))} "
              "differ from BENCHMARK.json", file=sys.stderr)
        return 1
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": facts, **result["detail"]}
    print("detail: " + json.dumps(detail))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units},
    }))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
