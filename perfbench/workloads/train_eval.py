"""``train_eval``: a scaler + LogisticRegression Pipeline fitted on a set
large enough for the distributed optimizer, a cross-validated local fit,
the evaluators and rank statistics on the model's scores, save/load of the
fitted Pipeline, and a closed scoring loop through ``transform_local``.

Why: the work is bound by driver-loop job latency.  The large fit sits
above the optimizer's local-solve gate (n·(dim+3) > LOCAL_SOLVE_MAX_VALUES)
and so runs the distributed SGD driver loop, Spark's stand-in for Flink
ML's iteration framework; the cross-validation fits sit below it and take
the local-collect path.  BinaryClassificationEvaluator, the CV's AUC,
SpearmanCorrelation and MannWhitneyUTest are every ordered-cumsum
consumer in one round.  The Pipeline carries the Stage/Pipeline boundary,
an aggregate-fit feature stage, persistence and the engine-free serving
path.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np

from ..measure import fingerprint
from .base import Workload

DIM = 29
# rows of the large fit: n·(DIM+3) is one row above 2^24, the package's
# local-solve gate when the benchmark was defined.  Fixed, so a commit
# that moves the gate is measured on the same input as its parent.
LARGE_ROWS = 524_289
MAX_ITER = 3             # distributed SGD rounds per large fit
LEARNING_RATE = 1.0
NOISE = 1.0              # label-noise amplitude against a unit-scale margin
AUC_BAND = (0.70, 0.95)  # where the generator puts the holdout AUC
EVAL_ROWS = 20_000
CV_ROWS = 4_000
CV_GRID = [{"reg": 0.0}, {"reg": 0.05}]
CV_FOLDS = 2
SCORE_ROWS = 8           # rows per scoring request
SCORE_BURST = 20         # closed-loop requests per burst, one client
SCORE_BURSTS = 30        # bursts at each scoring point of the round
SCORE_POOL = 32
AUC_TOLERANCE = 1e-9
LOCAL_TOLERANCE = 1e-9


def generate(spark, n: int, seed: int, first_id: int = 0):
    """Seeded labeled points: features uniform in [-1, 1), label 1 when a
    planted linear margin plus uniform noise is positive.  ``margin`` is
    kept so the rank statistics can compare the model against it."""
    from pyspark.sql import functions as F

    from flink_ml_spark.benchmark import datagen as G
    w = np.random.default_rng(seed).uniform(-1.0, 1.0, DIM)
    w /= np.linalg.norm(w) / np.sqrt(3.0)   # margin std ~1 over U(-1, 1)
    df = G.dense_vector_table(spark, n, DIM, seed=seed, col="raw")
    df = df.withColumn("id", F.col("id") + F.lit(first_id))
    x = [F.col("raw")[j] / 50.0 - 1.0 for j in range(DIM)]
    margin = sum((xj * float(wj) for xj, wj in zip(x, w)), F.lit(0.0))
    noise = (F.pmod(F.hash(F.col("id"), F.lit(seed), F.lit(977)),
                    F.lit(1 << 20)) / float(1 << 20) - 0.5) * (2 * NOISE)
    return df.select(
        "id", F.array(*x).alias("features"), margin.alias("margin"),
        (margin + noise > 0).cast("double").alias("label"))


def same(a, b, tol: float) -> bool:
    """Equal up to ``tol``, through lists, arrays, dicts and Spark rows."""
    a, b = (x.asDict(recursive=True) if hasattr(x, "asDict") else x
            for x in (a, b))
    if isinstance(a, dict) or isinstance(b, dict):
        return (isinstance(a, dict) and isinstance(b, dict)
                and a.keys() == b.keys()
                and all(same(a[k], b[k], tol) for k in a))
    if hasattr(a, "__len__") and not isinstance(a, str):
        return (hasattr(b, "__len__") and len(a) == len(b)
                and all(same(x, y, tol) for x, y in zip(a, b)))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return (math.isnan(a) and math.isnan(b)) or abs(a - b) <= tol
    return a == b


class TrainEval(Workload):
    """A one-shot batch job: no warm-up, so each run's single round pays
    the first-use costs a fresh job pays."""
    name = "train_eval"
    fit_phases = ("pipeline_fit", "cv_fit")

    def __init__(self, *args):
        super().__init__(*args)
        from flink_ml_spark.common import optimizer
        self.n_large = self.rows(LARGE_ROWS)
        self.n_eval = self.rows(EVAL_ROWS)
        self.n_cv = self.rows(CV_ROWS)
        self.served: dict[int, object] = {}
        self.burst_medians_ms: list[float] = []
        self.results = None
        # information only: which side of this commit's gate the fits
        # take (None if the package no longer has that gate)
        gate = getattr(optimizer, "LOCAL_SOLVE_MAX_VALUES", None)
        self.info.update(
            local_solve_max_values=gate,
            large_fit_above_gate=gate and self.n_large * (DIM + 3) > gate,
            cv_fits_above_gate=gate and self.n_cv * (DIM + 3) > gate)

    @property
    def input_rows(self) -> int:
        return self.n_large + self.n_eval + self.n_cv

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F
        self.spark = spark
        self.large = generate(spark, self.n_large, self.seed).cache()
        self.large.count()
        held = generate(spark, self.n_eval + self.n_cv, self.seed,
                        first_id=self.n_large).cache()
        held.count()
        self.holdout = held.filter(F.col("id") < self.n_large + self.n_eval)
        self.cv_set = held.filter(F.col("id") >= self.n_large + self.n_eval)
        self.requests = self._requests(self.holdout)

    @staticmethod
    def _requests(df):
        pool = df.limit(SCORE_POOL * SCORE_ROWS).toPandas()
        return [pool.iloc[i * SCORE_ROWS:(i + 1) * SCORE_ROWS]
                .reset_index(drop=True) for i in range(SCORE_POOL)]

    @staticmethod
    def _lr(n: int, features: str = "features"):
        from flink_ml_spark.classification import LogisticRegression
        return LogisticRegression(featuresCol=features, labelCol="label",
                                  maxIter=MAX_ITER, globalBatchSize=n,
                                  learningRate=LEARNING_RATE)

    def _pipeline(self, n: int):
        from flink_ml_spark.feature import StandardScaler
        from flink_ml_spark.pipeline import Pipeline
        return Pipeline([
            StandardScaler(inputCol="features", outputCol="scaled",
                           withMean=True),
            self._lr(n, "scaled")])

    def _cross_validate(self, df, n: int):
        from flink_ml_spark.tuning import CrossValidator
        return CrossValidator(estimator=self._lr(n), param_maps=CV_GRID,
                              metric="auc", numFolds=CV_FOLDS, idCol="id",
                              labelCol="label").fit(df)

    def _persist(self, model, tag: str):
        from flink_ml_spark.api import Stage
        from flink_ml_spark.pipeline import PipelineModel
        path = os.path.join(self.work, tag)
        shutil.rmtree(path, ignore_errors=True)
        model.save(path)
        return (Stage.load(self.spark, path),
                PipelineModel.load_local(path))

    def _score(self, model, df):
        """The model's scores on ``df``, cached and written to the noop
        sink, which reads every column, so every output column is
        computed once, here, and the consumers read the same scores."""
        from pyspark.sql import functions as F
        scored = (model.transform(df)[0]
                  .withColumn("score", F.element_at("rawPrediction", 2))
                  .withColumn("group", F.col("label").cast("string"))
                  .cache())
        scored.write.format("noop").mode("overwrite").save()
        return scored

    @staticmethod
    def _consumers():
        """The evaluator and rank statistics run on the scores."""
        from flink_ml_spark.evaluation import BinaryClassificationEvaluator
        from flink_ml_spark.stats import MannWhitneyUTest, SpearmanCorrelation
        return {
            "eval": BinaryClassificationEvaluator(
                labelCol="label", rawPredictionCol="score"),
            "spearman": SpearmanCorrelation(xCol="score", yCol="margin"),
            "mann_whitney": MannWhitneyUTest(groupCol="group",
                                             valueCol="score"),
        }

    def _serve(self, local) -> None:
        """Bursts of closed-loop scoring requests from one client."""
        out = self.outcome
        for _ in range(SCORE_BURSTS):
            burst = []
            for _ in range(SCORE_BURST):
                k = len(self.latencies_ms) % SCORE_POOL
                t0 = time.perf_counter()
                scored = local.transform_local(self.requests[k])
                burst.append((time.perf_counter() - t0) * 1e3)
                self.latencies_ms.append(burst[-1])
                self.served[k] = scored
                out.op(len(scored) == SCORE_ROWS)
            self.burst_medians_ms.append(statistics.median(burst))

    def run_round(self) -> None:
        ph, out = self.phases, self.outcome
        # scoring bursts sit between the Spark phases, so the latency
        # samples spread over the round instead of one moment of it
        with ph.time("pipeline_fit"):
            model = self._pipeline(self.n_large).fit(self.large)
        out.op(True)
        with ph.time("persist"):
            self.loaded, local = self._persist(model, "model")
        out.op(True)
        self._serve(local)
        with ph.time("cv_fit"):
            cv = self._cross_validate(self.cv_set, self.n_cv)
        out.op(True)
        self._serve(local)
        with ph.time("transform"):
            scored = self._score(model, self.holdout)
        out.op(True)
        res = {}
        for key, consumer in self._consumers().items():
            self._serve(local)
            with ph.time("transform"):
                res[key] = consumer.transform(scored)[0].first().asDict()
            out.op(True)
        scored.unpersist()
        self._serve(local)
        res["coefficient"] = model.stages[-1].model_data["coefficient"]
        res["cv_metrics"] = cv.model_data["avg_metrics"]
        if self.results is None:
            self.results = res
        else:
            out.check("round results repeat",
                      fingerprint(res) == fingerprint(self.results))

    def latency_ms(self) -> float:
        """The quietest burst's median request latency, best of K as
        timeit takes it.  On a shared host one core's speed swings by up
        to 2x over fractions of a second, which only adds time, and how
        much of a run it covers varies from run to run; the median of all
        requests follows that share, the best burst does not."""
        self.info.update(latency_bursts=len(self.burst_medians_ms),
                         latency_all_p50_ms=statistics.median(
                             self.latencies_ms))
        return min(self.burst_medians_ms)

    def finish(self) -> None:
        import pandas as pd
        from pyspark.sql import functions as F
        out, res = self.outcome, self.results
        out.fingerprint = fingerprint(res)
        auc = res["eval"]["areaUnderROC"]
        lo, hi = AUC_BAND
        out.check("holdout AUC inside the generator's band",
                  lo <= auc <= hi, f"auc={auc:.6f}")
        # U of the positive group over n1·n2 is the AUC: two independent
        # ordered-cumsum consumers must agree
        mw = res["mann_whitney"]
        u_pos = mw["n1"] * mw["n2"] - mw["u1_x2"] / 2.0
        auc_mw = u_pos / (mw["n1"] * mw["n2"])
        out.check("Mann-Whitney U agrees with the evaluator's AUC",
                  abs(auc_mw - auc) <= AUC_TOLERANCE,
                  f"{auc_mw:.12f} vs {auc:.12f}")
        rho = res["spearman"]["rho"]
        out.check("model scores rank-correlate with the planted margin",
                  rho > 0.5, f"rho={rho:.6f}")
        cv_auc = max(res["cv_metrics"])
        out.check("cross-validated AUC inside the generator's band",
                  lo <= cv_auc <= hi, f"cv_auc={cv_auc:.6f}")
        # the engine-free path must equal the Spark path of the reloaded
        # Pipeline on every served row
        local = pd.concat(self.served.values()).set_index("id")
        ids = [int(i) for i in local.index]
        remote = (self.loaded.transform(
            self.holdout.filter(F.col("id").isin(ids)))[0]
            .toPandas().set_index("id").loc[local.index])
        bad = [c for c in local.columns
               if not all(same(a, b, LOCAL_TOLERANCE)
                          for a, b in zip(local[c], remote[c]))]
        out.check("transform_local equals the reloaded Spark transform",
                  not bad, f"mismatched columns: {bad}")
