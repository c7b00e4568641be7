"""Timing records, summary statistics and result fingerprints."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10
# decimals kept when fingerprinting floating-point results: far above the
# noise of a reordered floating-point sum, far below any real change
QUANT_DECIMALS = 6


class Phases:
    """Per-round phase times: ``with phases.time("fit"): ...`` adds the
    block's wall time to the current round's ``fit`` total."""

    def __init__(self):
        self.rounds: list[dict[str, float]] = []

    def new_round(self) -> None:
        self.rounds.append(defaultdict(float))

    @contextmanager
    def time(self, phase: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.rounds[-1][phase] += time.perf_counter() - t0

    def median(self, *phases: str) -> float:
        """Median over rounds of the summed time of ``phases``."""
        return statistics.median(sum(r[p] for p in phases)
                                 for r in self.rounds)

    def medians(self) -> dict[str, float]:
        return {p: self.median(p) for p in self.rounds[0]}


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile that still
    has ``TAIL_MIN_BEYOND`` samples above it, i.e. the 11th largest."""
    n = len(samples)
    if n <= TAIL_MIN_BEYOND:
        raise ValueError(f"{n} samples cannot support a tail percentile")
    rank = n - TAIL_MIN_BEYOND  # 1-based rank of the reported sample
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def fingerprint(values) -> str:
    """Fingerprint of a driver-side result, floats rounded, so it repeats
    across runs of one commit at one seed."""
    import hashlib
    import json

    def q(v):
        if isinstance(v, float):
            return round(v, QUANT_DECIMALS)
        if isinstance(v, (list, tuple)):
            return [q(x) for x in v]
        if isinstance(v, dict):
            return {k: q(x) for k, x in sorted(v.items())}
        return v
    blob = json.dumps(q(values), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]
