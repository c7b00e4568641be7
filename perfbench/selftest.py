"""Small-scale smoke of every workload, untraced and traced.

    python3 perfbench/selftest.py

Runs ``run.py`` on each workload at a reduced input scale and asserts that
it exits 0, that its last line names every metric of ``BENCHMARK.json``
with the declared unit, and that every check passed.  Run it from the
root of a checkout; it takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCALE = "0.05"
SECONDS = "1"
SEED = "7"


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", SEED, "--seconds", SECONDS,
           "--trace", str(trace), "--scale", SCALE]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errors = []
    if got != want:
        errors.append(f"{where}: metric names or units differ: "
                      f"{sorted(set(got.items()) ^ set(want.items()))}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0
            and result["attempted"] >= 1):
        errors.append(f"{where}: checks failed: {proc.stdout[:2000]}")
    if not all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values()):
        errors.append(f"{where}: non-numeric metric value")
    return errors


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check(w["name"], trace, spec)
            print(f"{w['name']} trace={trace}: {'ok' if not errs else 'FAIL'}",
                  flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
