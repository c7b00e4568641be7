"""Model selection: ParamGridBuilder / CrossValidator / TrainValidationSplit.

The reference stops at individual estimators (no tuning module); Spark
MLlib's ``ml.tuning`` trio is the standard completion, and every
large-scale pipeline ends up re-implementing it — so it ships here as a
first-class extension, built on the repo's own reproducibility
discipline:

- **Deterministic folds.**  Fold assignment is the corpus-prep LCG over
  an integer id column (the TargetEncoder / GroupSplitter convention:
  ``((id % M)·A + salt) % M % k``), NOT an RNG split — the same row
  lands in the same fold on every run, in any engine, so CV results are
  reproducible and exactly replayable by a SQL oracle.
- **Driver-loop orchestration, cluster-side work.**  CV is a control
  loop over fits: the loop runs on the driver (SURVEY §3.2 — iteration
  collapses to driver loops), each fit/transform is the estimator's own
  distributed job.  Nothing corpus-sized is collected here: the metric
  reduces each scored fold to one scalar, and ``auc``'s tie-collapsed
  score relation reaches the driver only when the driver budget holds
  it (``common.dataflow.local_regime``).
- **Deterministic selection.**  Ties on the average metric break toward
  the EARLIEST param map (stable, engine-independent).

``metric`` options: ``"accuracy"`` (mean of ``prediction == label``),
``"n_correct"`` (integer count — the bit-exact choice for cross-engine
gates), ``"rmse"``, ``"mae"`` (lower is better, handled automatically),
``"auc"`` (tie-aware ranking quality over ``rawPredictionCol`` — the
Mann–Whitney midrank identity over ``common.dataflow.ordered_cumsum``).
A custom callable ``metric_fn(model, test_df) -> float`` overrides the
built-ins (not persisted — models saved from a callable-metric CV
reload with the callable absent).
"""

from __future__ import annotations

import itertools
import os
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .api import Estimator, Model, Stage
from .common.dataflow import ordered_cumsum
from .param import (HasLabelCol, HasPredictionCol, IntParam, Param,
                    ParamValidators, StringParam)

# the corpus-prep LCG (sampling._unit_hash / TargetEncoder fold hash)
_HASH_MOD = 2147483648
_HASH_MULT = 2654435761

_LOWER_IS_BETTER = {"rmse", "mae"}


def _auc_of(scored: DataFrame, label_col: str, raw_col: str) -> float:
    """Tie-aware AUC via the Mann–Whitney midrank identity: groupBy(score)
    and ``ordered_cumsum``'s ascending running count, sized by the fold's
    row count (the BinaryClassificationEvaluator / sliced-AUC geometry)."""
    from pyspark.sql.types import ArrayType
    raw = F.col(raw_col)
    if isinstance(scored.schema[raw_col].dataType, ArrayType):
        raw = F.element_at(raw, -1)  # P(class 1) convention
    base = (scored.select(raw.cast("double").alias("s"),
                          F.col(label_col).cast("double").alias("y"))
            .filter(F.col("s").isNotNull() & F.col("y").isNotNull()))
    g = base.groupBy("s").agg(F.sum("y").alias("pos"),
                              F.count(F.lit(1)).alias("tot"))
    cum = ordered_cumsum(g, [("s", True)], ["tot"], scored.count())
    try:
        row = cum.agg(lambda fn, c: {
            "p": fn.sum(c("pos")),
            "n": fn.sum(c("tot") - c("pos")),
            # doubled midrank: 2·(count below) + ties + 1
            "r2": fn.sum(c("pos") * (2 * (c("cum_tot") - c("tot"))
                                     + c("tot") + 1))})
    finally:
        cum.release()
    p, n = float(row["p"] or 0.0), float(row["n"] or 0.0)
    if p == 0.0 or n == 0.0:
        raise ValueError(
            "metric 'auc': validation fold has a single class "
            "(needs both positives and negatives)")
    return (float(row["r2"]) / 2.0 - p * (p + 1) / 2.0) / (p * n)


class ParamGridBuilder:
    """Cartesian product of per-param value lists, in insertion order
    (Spark MLlib's ``ParamGridBuilder``): ``add_grid("k", [1, 5])
    .add_grid("b", [0.5]).build()`` → ``[{"k": 1, "b": 0.5}, ...]``.
    The FIRST-added param varies slowest, so the map order — and with
    it metric-tie selection — is deterministic."""

    def __init__(self) -> None:
        self._grid: dict[str, Sequence[Any]] = {}

    def add_grid(self, name: str, values: Sequence[Any]) -> "ParamGridBuilder":
        self._grid[name] = list(values)
        return self

    def build(self) -> list[dict[str, Any]]:
        names = list(self._grid)
        return [dict(zip(names, combo))
                for combo in itertools.product(*self._grid.values())]


def fold_column(id_col: str, num_folds: int, salt: int):
    """Deterministic fold id 0..num_folds−1 from an integer id column —
    exported so SQL oracles and callers can replay the split.

    The LCG hash is XOR-folded with its own high bits before the modulo:
    a multiplicative hash has WEAK LOW BITS (bit 0 of ``id·A + salt`` is
    just a parity flip of ``id``), so the plain ``% 2`` fold split
    degenerated to odd/even ids — which on alternating-label data is
    exactly the class split.  ``h ^ (h >> 16)`` mixes the strong high
    bits into the residue for any fold count."""
    idc = F.col(id_col)
    inner = ((idc % _HASH_MOD) + _HASH_MOD) % _HASH_MOD
    h = ((inner * _HASH_MULT + F.lit(salt)) % _HASH_MOD + _HASH_MOD) \
        % _HASH_MOD
    mixed = h.bitwiseXOR(F.shiftright(h, 16))
    return (mixed % num_folds).cast("int")


def _param_targets(est: Estimator, pm: dict[str, Any]):
    """Resolve a param map against an estimator: plain keys set on the
    estimator itself; ``<idx>__<param>`` keys address stage ``idx`` of a
    composite estimator with a ``stages`` list (Pipeline) — the tuning
    grid's way into nested stage params.  Returns [(stage, param_name,
    value)]."""
    out = []
    for k, v in pm.items():
        if "__" in k and hasattr(est, "stages"):
            idx, name = k.split("__", 1)
            out.append((est.stages[int(idx)], name, v))
        else:
            out.append((est, k, v))
    return out


def _apply_params(est: Estimator, pm: dict[str, Any]):
    """Apply a param map (stage-addressed keys supported); returns an
    undo list for ``_restore_params``."""
    targets = _param_targets(est, pm)
    undo = [(s, n, s.get_(n)) for s, n, _ in targets]
    for s, n, v in targets:
        s.set_(**{n: v})
    return undo


def _restore_params(undo) -> None:
    for s, n, v in undo:
        s.set_(**{n: v})


def _builtin_metric(name: str, label_col: str, pred_col: str,
                    raw_col: str = "rawPrediction"):
    y = F.col(label_col).cast("double")
    p = F.col(pred_col).cast("double")

    def fn(model: Model, test: DataFrame) -> float:
        scored = model.transform(test)[0]
        if name == "auc":
            return _auc_of(scored, label_col, raw_col)
        if name == "accuracy":
            agg = F.avg((y == p).cast("double"))
        elif name == "n_correct":
            agg = F.sum((y == p).cast("long")).cast("double")
        elif name == "rmse":
            agg = F.sqrt(F.avg((y - p) * (y - p)))
        elif name == "mae":
            agg = F.avg(F.abs(y - p))
        else:
            raise ValueError(f"unknown metric {name!r}")
        v = scored.agg(agg).first()[0]
        if v is None:
            # an empty scored fold has no metric; 0.0 would silently WIN
            # selection for lower-is-better metrics (rmse/mae) — refuse
            raise ValueError(
                f"metric {name!r}: validation fold is empty (no scored "
                "rows) — check the id column / fold hash coverage")
        return float(v)

    return fn


class _TunerBase(Estimator, HasLabelCol, HasPredictionCol):
    idCol = StringParam("idCol", "Integer id column driving the "
                        "deterministic split hash.", "id")
    groupCol = StringParam(
        "groupCol", "Optional integer GROUP id column: when set, the "
        "split hash keys on the group instead of the row id, so every "
        "row of a group lands in the same fold (GroupKFold — the "
        "leakage-safe split when rows within a group are correlated, "
        "e.g. chunks of one document).  Empty = row-level folds.", "")
    foldSalt = IntParam("foldSalt", "Split-hash salt.", 7)
    metric = StringParam("metric",
                         "accuracy | n_correct | rmse | mae | auc.",
                         "accuracy", ParamValidators.in_array(
                             ["accuracy", "n_correct", "rmse", "mae",
                              "auc"]))
    rawPredictionCol = StringParam(
        "rawPredictionCol", "Continuous score column metric='auc' "
        "ranks by (array columns use their LAST element — the "
        "P(class 1) convention).", "rawPrediction")
    parallelism = IntParam(
        "parallelism", "Concurrent (param map, fold) fits — driver "
        "threads submitting independent Spark jobs (Spark schedules "
        "them concurrently); each task fits a CLONED estimator so "
        "param application is race-free.  Results are identical at any "
        "parallelism.", 1, ParamValidators.gt(0))

    def __init__(self, estimator: Estimator | None = None,
                 param_maps: Sequence[dict[str, Any]] | None = None,
                 metric_fn: Callable[[Model, DataFrame], float] | None = None,
                 **kwargs: Any):
        super().__init__(**kwargs)
        self.estimator = estimator
        self.param_maps = list(param_maps or [{}])
        self.metric_fn = metric_fn

    def _metric_fn(self):
        if self.metric_fn is not None:
            return self.metric_fn, True
        name = self.get_("metric")
        return (_builtin_metric(name, self.get_("labelCol"),
                                self.get_("predictionCol"),
                                self.get_("rawPredictionCol")),
                name not in _LOWER_IS_BETTER)

    def _fit_with(self, pm: dict[str, Any], df: DataFrame) -> Model:
        """Apply one param map, fit, restore the estimator's params."""
        undo = _apply_params(self.estimator, pm)
        try:
            return self.estimator.fit(df)
        finally:
            _restore_params(undo)

    def _clone_estimator(self) -> Estimator:
        # leaf estimators clone via params_json; composite stages
        # (Pipeline/Graph — custom load()) carry child stages that a
        # params_json round-trip cannot reach, so they clone through
        # their OWN persistence machinery (save → Stage.load), which
        # round-trips the stage list — parallelism > 1 over Pipelines
        # is the common tuning case
        if type(self.estimator).load.__func__ is not Stage.load.__func__:
            import atexit
            import shutil
            import tempfile
            from pyspark.sql import SparkSession
            spark = SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    "parallelism > 1 needs an active SparkSession to "
                    "clone a composite estimator via persistence")
            d = tempfile.mkdtemp(prefix="tuner_clone_")
            # cleanup is DEFERRED to process exit: loaded stages read
            # parquet model data LAZILY (e.g. a pre-fitted model stage
            # inside the Pipeline), so deleting the dir here would
            # fail the clone's first fit with file-not-found
            atexit.register(shutil.rmtree, d, ignore_errors=True)
            p = os.path.join(d, "est")
            self.estimator.save(p)
            return Stage.load(spark, p)
        est = type(self.estimator)()
        est.load_params_json(self.estimator.params_json())
        return est

    def _run_tasks(self, tasks):
        """Run (key, fn) pairs, concurrently when parallelism > 1;
        returns {key: result}.  Each fn receives a cloned estimator."""
        par = int(self.get_("parallelism"))
        if par <= 1:
            return {k: fn(self.estimator) for k, fn in tasks}
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=par) as pool:
            futs = {k: pool.submit(fn, self._clone_estimator())
                    for k, fn in tasks}
            return {k: f.result() for k, f in futs.items()}

    @staticmethod
    def _best(avg: list[float], higher: bool) -> int:
        best = 0
        for i, v in enumerate(avg):
            if (v > avg[best]) if higher else (v < avg[best]):
                best = i
        return best

    # persistence: estimator under <path>/estimator, param maps in extra
    def _extra_metadata(self) -> dict[str, Any]:
        return {"paramMaps": self.param_maps}

    def _load_extra_metadata(self, extra: dict[str, Any]) -> None:
        self.param_maps = list(extra.get("paramMaps") or [{}])

    def _save_model_data(self, path: str) -> None:
        if self.estimator is not None:
            self.estimator.save(os.path.join(path, "estimator"))

    def _load_model_data(self, spark: SparkSession, path: str) -> None:
        p = os.path.join(path, "estimator")
        if os.path.exists(p):
            self.estimator = Stage.load(spark, p)


class CrossValidator(_TunerBase):
    """k-fold cross-validation over a param grid: for every param map,
    fit on each fold's complement and score its held-out fold; the best
    average metric wins and is refit on ALL rows.

    ``fit(df)`` → ``CrossValidatorModel`` whose ``model_data`` carries
    ``best_index``, ``avg_metrics`` and per-fold ``fold_metrics``
    (list per param map), and which transforms via the refit best
    model."""

    numFolds = IntParam("numFolds", "Number of folds.", 5,
                        ParamValidators.gt(1))

    def fit(self, *inputs: DataFrame) -> "CrossValidatorModel":
        (df,) = inputs
        if self.estimator is None:
            raise ValueError("CrossValidator needs an estimator")
        k = int(self.get_("numFolds"))
        key = self.get_("groupCol") or self.get_("idCol")
        fold = fold_column(key, k, int(self.get_("foldSalt")))
        tagged = df.withColumn("__fold__", fold).persist()
        try:
            metric_fn, higher = self._metric_fn()

            def make_task(pm: dict, f: int):
                train = tagged.filter(F.col("__fold__") != f) \
                    .drop("__fold__")
                test = tagged.filter(F.col("__fold__") == f) \
                    .drop("__fold__")

                def run(est):
                    undo = _apply_params(est, pm)
                    try:
                        model = est.fit(train)
                    finally:
                        _restore_params(undo)
                    return float(metric_fn(model, test))

                return run

            res = self._run_tasks(
                [((pi, f), make_task(pm, f))
                 for pi, pm in enumerate(self.param_maps)
                 for f in range(k)])
            fold_metrics = [[res[(pi, f)] for f in range(k)]
                            for pi in range(len(self.param_maps))]
            avg = [sum(m) / len(m) for m in fold_metrics]
            best = self._best(avg, higher)
        finally:
            tagged.unpersist()
        best_model = self._fit_with(self.param_maps[best], df)
        out = CrossValidatorModel(best_model)
        out.set_(labelCol=self.get_("labelCol"),
                 predictionCol=self.get_("predictionCol"))
        out.model_data = {"best_index": int(best), "avg_metrics": avg,
                          "fold_metrics": fold_metrics,
                          "param_maps": self.param_maps,
                          "higher_is_better": bool(higher)}
        return out


class TrainValidationSplit(_TunerBase):
    """Single deterministic train/validation split over a param grid —
    CV's cheap sibling for expensive fits: rows whose split hash lands
    below ``trainRatio`` train, the rest validate; best param map refits
    on ALL rows."""

    trainRatio = IntParam("trainRatio", "Train percentage 1-99 (hash "
                          "buckets out of 100).", 75,
                          ParamValidators.in_range(1, 99))

    def fit(self, *inputs: DataFrame) -> "CrossValidatorModel":
        (df,) = inputs
        if self.estimator is None:
            raise ValueError("TrainValidationSplit needs an estimator")
        bucket = fold_column(self.get_("groupCol") or self.get_("idCol"),
                             100,
                             int(self.get_("foldSalt")))
        ratio = int(self.get_("trainRatio"))
        tagged = df.withColumn("__b__", bucket).persist()
        try:
            metric_fn, higher = self._metric_fn()
            train = tagged.filter(F.col("__b__") < ratio).drop("__b__")
            valid = tagged.filter(F.col("__b__") >= ratio).drop("__b__")

            def make_task(pm: dict):
                def run(est):
                    undo = _apply_params(est, pm)
                    try:
                        model = est.fit(train)
                    finally:
                        _restore_params(undo)
                    return float(metric_fn(model, valid))

                return run

            res = self._run_tasks(
                [(pi, make_task(pm))
                 for pi, pm in enumerate(self.param_maps)])
            metrics = [res[pi] for pi in range(len(self.param_maps))]
            best = self._best(metrics, higher)
        finally:
            tagged.unpersist()
        best_model = self._fit_with(self.param_maps[best], df)
        out = CrossValidatorModel(best_model)
        out.set_(labelCol=self.get_("labelCol"),
                 predictionCol=self.get_("predictionCol"))
        out.model_data = {"best_index": int(best), "avg_metrics": metrics,
                          "fold_metrics": [[m] for m in metrics],
                          "param_maps": self.param_maps,
                          "higher_is_better": bool(higher)}
        return out


class CrossValidatorModel(Model, HasLabelCol, HasPredictionCol):
    """Delegates transform to the winning refit model; ``model_data``
    holds the full tuning report."""

    def __init__(self, best_model: Model | None = None, **kwargs: Any):
        super().__init__(**kwargs)
        self.best_model = best_model

    def _transform(self, df: DataFrame) -> DataFrame:
        return self.best_model.transform(df)[0]

    def transform_local(self, pdf):
        return self.best_model.transform_local(pdf)

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """Tuning report as a relation: one row per (param map, fold)."""
        rows = []
        for i, per_fold in enumerate(self.model_data["fold_metrics"]):
            for f, m in enumerate(per_fold):
                rows.append((i, f, float(m),
                             i == self.model_data["best_index"]))
        return spark.createDataFrame(
            rows, "param_index int, fold int, metric double, best boolean")

    def _save_model_data(self, path: str) -> None:
        if self.best_model is not None:
            self.best_model.save(os.path.join(path, "bestModel"))

    def _load_model_data(self, spark: SparkSession, path: str) -> None:
        p = os.path.join(path, "bestModel")
        if os.path.exists(p):
            self.best_model = Stage.load(spark, p)
