"""Traced runs: spans around every public entry point of each package
layer, with the Spark status-store counters of each job attributed to the
innermost span that was open when it ran.

Wrapping happens here, from the benchmark's own files; the package is
not changed.  A layer is a subpackage (or, for ``pipeline``, the Stage API
modules).  Public module-level functions are wrapped where they are
defined and wherever another package module imported them; public methods
are wrapped once, on the class that defines them, and a span takes the
layer of the receiver's class, so an inherited ``Transformer.transform``
on a feature model counts as ``feature``.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
import types
from collections import defaultdict

PACKAGE = "flink_ml_spark"
LAYERS = {
    "pipeline": ("flink_ml_spark.api", "flink_ml_spark.pipeline"),
    "feature": ("flink_ml_spark.feature",),
    "classification": ("flink_ml_spark.classification",),
    "tuning": ("flink_ml_spark.tuning",),
    "evaluation": ("flink_ml_spark.evaluation",),
    "stats": ("flink_ml_spark.stats",),
    "common": ("flink_ml_spark.common",),
    "llmdata": ("flink_ml_spark.llmdata",),
    "streaming": ("flink_ml_spark.streaming",),
}
LAYER_FIELDS = ("calls", "self_s", "driver_gap_s", "jobs", "tasks",
                "exec_run_s", "exec_cpu_s", "shuffle_mb", "result_mb")
# job and span clocks: the status store keeps whole milliseconds
CLOCK_SLACK_S = 1e-3
MB = 2.0 ** 20


def layer_of(module: str) -> str | None:
    for layer, prefixes in LAYERS.items():
        if any(module == p or module.startswith(p + ".") for p in prefixes):
            return layer
    return None


class Span:
    __slots__ = ("id", "parent", "layer", "name", "start", "end", "thread",
                 "children")

    def __init__(self, sid, parent, layer, name, thread):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.thread = thread
        self.children: list[Span] = []
        self.start = time.time()
        self.end = None

    def record(self) -> dict:
        return {"id": self.id,
                "parent": self.parent.id if self.parent else None,
                "layer": self.layer, "name": self.name, "start": self.start,
                "end": self.end, "thread": self.thread}


def _intervals_minus(base, cut):
    """Total length of the intervals ``base`` minus the union of ``cut``
    (both lists of (start, end), ``base`` disjoint)."""
    total = 0.0
    cut = sorted(cut)
    for s, e in base:
        covered, cur = 0.0, s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            cs = max(cs, cur)
            ce = min(ce, e)
            covered += ce - cs
            cur = ce
        total += (e - s) - covered
    return total


def _self_intervals(span):
    """The parts of ``span`` not covered by its children."""
    out, cur = [], span.start
    for c in sorted(span.children, key=lambda c: c.start):
        if c.start > cur:
            out.append((cur, c.start))
        cur = max(cur, c.end)
    if span.end > cur:
        out.append((cur, span.end))
    return out


class Tracer:
    """Context manager: wraps the layers on entry, restores them on exit.
    Spans stay in memory until ``write_spans``."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.local = threading.local()
        self.lock = threading.Lock()
        self.patches: list[tuple[object, str, object]] = []
        self.window = None

    # -- wrapping -----------------------------------------------------
    def _wrap(self, fn, name, layer, method):
        """``name`` is the function's name; for a method, the span is named
        and layered after the receiver's class."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            lay, label = layer, name
            if method and args:
                cls = args[0] if isinstance(args[0], type) else type(args[0])
                lay = layer_of(cls.__module__) or layer
                label = f"{cls.__name__}.{name}"
            stack = getattr(tracer.local, "stack", None)
            if stack is None:
                stack = tracer.local.stack = []
            with tracer.lock:
                span = Span(len(tracer.spans), stack[-1] if stack else None,
                            lay, label, threading.get_ident())
                tracer.spans.append(span)
            if span.parent is not None:
                span.parent.children.append(span)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.time()
                stack.pop()
        return traced

    def _patch(self, owner, attr, new):
        self.patches.append((owner, attr, owner.__dict__[attr]
                             if isinstance(owner, type)
                             else getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib
        for prefixes in LAYERS.values():
            for p in prefixes:
                importlib.import_module(p)
        modules = [m for name, m in sorted(sys.modules.items())
                   if m is not None and name.startswith(PACKAGE + ".")
                   and layer_of(name)]
        package_modules = [
            m for name, m in sys.modules.items()
            if m is not None
            and (name == PACKAGE or name.startswith(PACKAGE + "."))]
        for mod in modules:
            layer = layer_of(mod.__name__)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if (isinstance(obj, types.FunctionType)
                        and obj.__module__ == mod.__name__
                        and obj.__qualname__ == name
                        and not hasattr(obj, "evalType")):  # not a UDF
                    short = mod.__name__.rsplit(".", 1)[-1]
                    w = self._wrap(obj, f"{short}.{name}", layer, False)
                    for other in package_modules:
                        if vars(other).get(name) is obj:
                            self._patch(other, name, w)
                elif (isinstance(obj, type) and obj.__module__ == mod.__name__
                      and obj.__qualname__ == name):
                    self._wrap_class(obj, layer)

    def _wrap_class(self, cls, layer) -> None:
        for attr, raw in list(cls.__dict__.items()):
            if attr.startswith("_"):
                continue
            if isinstance(raw, (classmethod, staticmethod)):
                fn = raw.__func__
                kind = type(raw)
            elif isinstance(raw, types.FunctionType):
                fn, kind = raw, None
            else:
                continue
            w = self._wrap(fn, attr, layer, kind is not staticmethod)
            self._patch(cls, attr, kind(w) if kind else w)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self.patches):
            setattr(owner, attr, old)
        self.patches.clear()

    def __enter__(self):
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.window = [time.time(), None]
        self.install()
        return self

    def __exit__(self, *exc):
        self.uninstall()
        self.window[1] = time.time()
        return False

    # -- status store -------------------------------------------------
    def _jobs(self) -> list[dict]:
        """Jobs submitted inside the traced window, with the counters of
        the stages they ran (each stage attempt counted once)."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        jobs = store.jobsList(None)
        seen, out = set(), []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            t0 = sub.get().getTime() / 1e3
            if not self.window[0] - CLOCK_SLACK_S <= t0 <= self.window[1]:
                continue
            done = j.completionTime()
            t1 = done.get().getTime() / 1e3 if not done.isEmpty() \
                else self.window[1]
            rec = {"job": j.jobId(), "start": t0, "end": t1, "stages": 0,
                   "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                   "gc_s": 0.0, "shuffle_b": 0, "result_b": 0, "spill_b": 0}
            sids = j.stageIds()
            for k in range(sids.length()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # py4j: the stage never ran
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                rec["stages"] += 1
                rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                rec["failed_tasks"] += s.numFailedTasks()
                rec["run_s"] += s.executorRunTime() / 1e3
                rec["cpu_s"] += s.executorCpuTime() / 1e9
                rec["gc_s"] += s.jvmGcTime() / 1e3
                rec["shuffle_b"] += (s.shuffleReadBytes()
                                     + s.shuffleWriteBytes())
                rec["result_b"] += s.resultSize()
                rec["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out.append(rec)
        return out

    def _innermost(self, job, spans):
        best = None
        for s in spans:
            if (s.start - CLOCK_SLACK_S <= job["start"]
                    and job["end"] <= s.end + CLOCK_SLACK_S
                    and (best is None or s.start > best.start)):
                best = s
        return best

    # -- metrics ------------------------------------------------------
    def layer_metrics(self, rounds: int) -> dict[str, float]:
        """Every per-layer metric, as a mean per traced round."""
        jobs = self._jobs()
        spans = [s for s in self.spans if s.end is not None]
        own = defaultdict(list)
        unattributed = 0
        for j in jobs:
            s = self._innermost(j, spans)
            if s is None:
                unattributed += 1
            else:
                own[s.id].append(j)
        acc = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
        for s in spans:
            a = acc[s.layer]
            base = _self_intervals(s)
            self_s = sum(e - b for b, e in base)
            mine = own.get(s.id, [])
            a["calls"] += 1
            a["self_s"] += self_s
            a["driver_gap_s"] += _intervals_minus(
                base, [(j["start"], j["end"]) for j in mine])
            for j in mine:
                a["jobs"] += 1
                a["tasks"] += j["tasks"]
                a["exec_run_s"] += j["run_s"]
                a["exec_cpu_s"] += j["cpu_s"]
                a["shuffle_mb"] += j["shuffle_b"] / MB
                a["result_mb"] += j["result_b"] / MB
        out = {f"{layer}.{f}": v / rounds
               for layer, a in acc.items() for f, v in a.items()}
        tasks = sum(j["tasks"] for j in jobs)
        failed = sum(j["failed_tasks"] for j in jobs)
        spark = {
            "jobs": len(jobs), "stages": sum(j["stages"] for j in jobs),
            "tasks": tasks, "failed_tasks": failed,
            "exec_run_s": sum(j["run_s"] for j in jobs),
            "exec_cpu_s": sum(j["cpu_s"] for j in jobs),
            "gc_s": sum(j["gc_s"] for j in jobs),
            "shuffle_mb": sum(j["shuffle_b"] for j in jobs) / MB,
            "spill_mb": sum(j["spill_b"] for j in jobs) / MB,
        }
        out.update({f"spark.{k}": v / rounds for k, v in spark.items()})
        out["spark.task_success_ratio"] = (
            (tasks - failed) / tasks if tasks else 1.0)
        self.unattributed_jobs = unattributed
        return out

    def nesting_errors(self) -> list[str]:
        """What breaks the span tree: a span left open, a child outside
        its parent's interval or on another thread, siblings (or roots of
        one thread) that overlap, a root outside the traced window."""
        errors = []
        groups = defaultdict(list)
        for s in self.spans:
            if s.end is None:
                errors.append(f"{s.name} never closed")
                continue
            p = s.parent
            groups[p.id if p else ("root", s.thread)].append(s)
            if p is None:
                if not self.window[0] <= s.start <= s.end <= self.window[1]:
                    errors.append(f"{s.name} outside the traced window")
            elif p.thread != s.thread:
                errors.append(f"{s.name} on another thread than {p.name}")
            elif (p.end is not None
                  and not p.start <= s.start <= s.end <= p.end):
                errors.append(f"{s.name} outside its parent {p.name}")
        for siblings in groups.values():
            siblings.sort(key=lambda s: s.start)
            for a, b in zip(siblings, siblings[1:]):
                if b.start < a.end:
                    errors.append(f"{a.name} overlaps {b.name}")
        return errors

    def summary(self) -> dict:
        return {"spans": len(self.spans),
                "unattributed_jobs": getattr(self, "unattributed_jobs", None),
                "nesting_errors": len(self.nesting_errors())}

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.record()) + "\n")
