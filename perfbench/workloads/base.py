"""What every workload provides to the worker loop."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from ..measure import TAIL_MIN_BEYOND, Phases, tail


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Outcome:
    """Operations one workload run attempted and saw fail, the checks it
    made and the fingerprint of its results."""
    attempted: int = 0
    failed: int = 0
    checks: list[Check] = field(default_factory=list)
    fingerprint: str = ""

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record an output check; a failed check fails one operation."""
        self.checks.append(Check(name, bool(ok), detail))
        self.op(ok)


class Workload:
    """One seeded workload.  The worker calls ``warm_up`` once, then
    ``prepare`` once, then ``run_round`` until
    the measured window is used (at least once), and ``finish`` once.
    Input generators take the seed as an argument; the package only ever
    sees the generated frames."""

    name = ""
    # phases that build model state (fit_s); "transform" applies it
    fit_phases: tuple[str, ...] = ("fit",)

    def __init__(self, seed: int, scale: float, work: str):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.phases = Phases()
        self.outcome = Outcome()
        # one unit of user-visible work each: a request or a micro-batch
        self.latencies_ms: list[float] = []
        self.info: dict = {}

    def rows(self, n: int) -> int:
        return max(1, int(n * self.scale))

    @property
    def input_rows(self) -> int:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Pay first-use costs (JIT, code generation, Python workers) in
        set-up.  A workload that models a long-running job warms up on an
        input of its own; one that models a one-shot job does nothing, so
        its rounds carry the first-use costs its users pay on every run."""
        self.spark = spark

    def run_round(self) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Checks that need work outside the timed rounds."""

    def round_metrics(self) -> dict[str, float]:
        """The end-to-end metrics taken from the recorded rounds.  The
        latency tail, where the sample count supports one, goes to the
        detail line."""
        self.info.update(latency_samples=len(self.latencies_ms),
                         phases_s=self.phases.medians())
        if len(self.latencies_ms) > TAIL_MIN_BEYOND:
            pct, t = tail(self.latencies_ms)
            self.info.update(latency_tail_pct=pct, latency_tail_ms=t)
        return {
            "fit_s": self.phases.median(*self.fit_phases),
            "transform_s": self.phases.median("transform"),
            "latency_ms": self.latency_ms(),
        }

    def latency_ms(self) -> float:
        """The end-to-end latency metric: the median unit of work."""
        return statistics.median(self.latencies_ms)

    def layer_extras(self, first: int, count: int) -> dict[str, float]:
        """Per-layer metrics the workload measures itself, as means over
        ``count`` rounds from round ``first`` (0-based)."""
        return {"streaming.batches": 0.0, "streaming.state_rows": 0.0,
                "streaming.overhead_s": 0.0}

