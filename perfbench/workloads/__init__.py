"""The benchmark's workloads, by the name ``--workload`` takes."""

from .stream_online import StreamOnline
from .train_eval import TrainEval

WORKLOADS = {w.name: w for w in (TrainEval, StreamOnline)}
