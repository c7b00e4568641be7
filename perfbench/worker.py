"""One workload run in one fresh process: set up, measure, check.

Started by ``run.py``, which owns the process tree and adds the memory
metric.  Writes its result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

# result fingerprints recorded per workload and seed
EXPECTED = "expected.json"


def parse_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-dir", required=True)
    return ap.parse_args(argv)


def measure_rounds(wl, seconds: float) -> list[float]:
    """Run whole rounds until ``seconds`` have passed (at least one);
    returns each round's wall time."""
    walls = []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        wl.phases.new_round()
        t0 = time.perf_counter()
        wl.run_round()
        walls.append(time.perf_counter() - t0)
    return walls


def check_expected(wl, scale: float) -> None:
    """Compare the run's result fingerprint with the one recorded for its
    seed in expected.json, when there is one (full-size inputs only)."""
    with open(os.path.join(os.path.dirname(__file__), EXPECTED)) as f:
        want = json.load(f).get(wl.name, {}).get(str(wl.seed))
    if want is not None and scale == 1.0:
        got = wl.outcome.fingerprint
        wl.outcome.check("results fingerprint expected at this seed",
                         got == want, f"{got} vs {want}")


def set_up(wl, work: str):
    """Start the session, warm up, then prepare the inputs.  setup_s is
    the launch (process start to a live session with the package
    imported), plus the warm-up, plus the preparation (seeded input
    generation and cache)."""
    from perfbench import host
    spark = host.start_session(work)
    import flink_ml_spark  # noqa: F401  (import time belongs to set-up)
    launch = time.perf_counter() - T_START
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warm = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare = time.perf_counter() - t0
    return spark, launch + warm + prepare, {
        "launch_s": launch, "warm_up_s": warm, "prepare_s": prepare}


def run(args) -> dict:
    from perfbench import host
    from perfbench.workloads import WORKLOADS
    host.point_temp_dirs(args.work)
    wl = WORKLOADS[args.workload](args.seed, args.scale, args.work)
    spark, setup_s, setup_info = set_up(wl, args.work)
    detail = {"setup": setup_info}
    if args.trace:
        from perfbench.trace import Tracer
        # untraced, traced, untraced: the first rounds take the cold
        # start, and the overhead compares the traced rounds with the
        # untraced ones after them, which are at least as warm, so it
        # errs high
        before = measure_rounds(wl, args.seconds / 3)
        with Tracer(spark) as tracer:
            traced = measure_rounds(wl, args.seconds / 3)
        metrics = tracer.layer_metrics(len(traced))
        after = measure_rounds(wl, args.seconds / 3)
        metrics["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(after) - 1.0)
        # every span closed, inside its parent on its parent's thread, and
        # apart from its siblings: then the self times of each span tree
        # add up to its root's wall time
        bad = tracer.nesting_errors()
        wl.outcome.check("spans close and nest", not bad, "; ".join(bad[:3]))
        walls = before + traced + after
    else:
        walls = measure_rounds(wl, args.seconds)
        wall = statistics.median(walls)
        metrics = {"setup_s": setup_s, "wall_s": wall,
                   "rows_per_s": wl.input_rows / wall}
        metrics.update(wl.round_metrics())
    wl.finish()
    check_expected(wl, args.scale)
    if args.trace:
        metrics.update(wl.layer_extras(len(before), len(traced)))
        detail["trace"] = tracer.summary()
        os.makedirs(args.spans_dir, exist_ok=True)
        tracer.write_spans(os.path.join(
            args.spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    out = wl.outcome
    detail.update({
        "rounds": len(walls), "round_walls_s": walls,
        "input_rows": wl.input_rows,
        "checks": [c.__dict__ for c in out.checks],
        "fingerprint": out.fingerprint,
        "ops_failed_frac": out.failed / max(1, out.attempted),
        **wl.info,
    })
    return {"correct": all(c.ok for c in out.checks) and out.failed == 0,
            "attempted": out.attempted, "failed": out.failed,
            "metrics": metrics, "detail": detail}


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench import host
    try:
        result = run(args)
    except Exception:  # the run boundary: report, never hang
        traceback.print_exc()
        result = {"error": traceback.format_exc(limit=3)}
    finally:
        host.stop_jvm()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0 if result.get("correct") else 1


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
