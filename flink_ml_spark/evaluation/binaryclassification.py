"""BinaryClassificationEvaluator — exact AUC / AUPRC / KS / Lorenz.

Reference: evaluation/binaryclassification/BinaryClassificationEvaluator.java:76
(metrics list in BinaryClassificationEvaluatorParams.java:35-57).  The
reference samples score boundaries, range-partitions, sorts partitions and
merges partial (TP/FP) summaries (:376-450) to get an exact tie-aware AUC.

Plan: ``groupBy(score)`` collapses ties to one row per distinct score
with (pos, neg) weight sums (map-side combine).  One pass over that
persisted relation yields its size m, the totals and the invalid-input
counts; ``common.dataflow.ordered_cumsum`` then orders it by descending
score and takes the running (pos, neg) sums — in driver memory when the
m-row relation fits the driver budget (one Arrow collect), otherwise with
the reference's geometry: sampled range boundaries, per-partition sorts
and a merge of partial summaries as broadcast prefix offsets (:430-450).

Closed-form tie-aware metrics over the global cumulative columns
(cpd/cnd = positives/negatives at-or-above the score):

  AUC    = Σ_ties [ pos·(neg_below + neg/2) ] / (P·N),  neg_below = N - cnd
  KS     = max |cpd/P - cnd/N|
  AUPRC  = trapezoid over (recall, precision) descending; the first
           (highest-score) trapezoid uses previous-precision = 1.0 exactly
           like the reference's initial recordValues[2]
           (BinaryClassificationEvaluator.java:289-295).
  Lorenz = trapezoid over the descending (positiveRate, tpr) gain curve
           (BinaryClassificationEvaluator.java:316-317).

Weighted variants via ``weightCol``.  A null or NaN score and a null
label have no place in the ranking: they raise ``ValueError`` naming the
column, in both regimes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator
from ..common.dataflow import driver_frame, ordered_cumsum
from ..param import HasLabelCol, HasRawPredictionCol, HasWeightCol

_SCHEMA = ("areaUnderROC double, areaUnderPR double, ks double, "
           "areaUnderLorenz double")


def score_totals(grouped: DataFrame, who: str, rcol: str, lcol: str,
                 *aggs):
    """One pass over a relation grouped by score ``s`` (and carrying a
    ``null_y`` count): its row count ``m`` and ``aggs``.  A null or NaN
    score and a null label have no place in a ranking, so they raise
    ``ValueError`` naming the column."""
    s = F.col("s")
    tot = grouped.agg(F.count("*").alias("m"),
                      F.sum("null_y").alias("null_y"),
                      F.count(F.when(s.isNull() | F.isnan(s), 1))
                      .alias("bad_s"), *aggs).first()
    if tot["bad_s"]:
        raise ValueError(f"{who}: rawPredictionCol '{rcol}' has null or "
                         f"NaN scores")
    if tot["null_y"]:
        raise ValueError(f"{who}: labelCol '{lcol}' has {tot['null_y']} "
                         f"null labels")
    return tot


def _metric_terms(P: float, N: float):
    """The four metrics over the descending cumulatives, as one formula
    for both regimes of ``ordered_cumsum``."""
    def terms(fn, c):
        pos, neg, cpd, cnd = c("pos"), c("neg"), c("cum_pos"), c("cum_neg")
        prev_pos = cpd - pos
        prev_tot = prev_pos + cnd - neg
        return {
            # tie-aware Mann-Whitney: each positive-group counts negatives
            # strictly below (= N - cnd) + half of same-score negatives
            "u": fn.sum(pos * ((N - cnd) + neg / 2)),
            "ks": fn.max(fn.abs(cpd / P - cnd / N)),
            # AUPRC: trapezoid between consecutive distinct-score points of
            # (recall = cpd/P, precision = cpd/(cpd+cnd)); previous
            # precision for the first point is 1.0 (reference :289-295)
            "auprc": fn.sum((pos / P) * ((cpd / (cpd + cnd)) + fn.where(
                prev_tot == 0.0, 1.0, prev_pos / prev_tot)) / 2),
            # Lorenz gain curve, descending: x = cum fraction of samples
            # (positiveRate), y = cum fraction of positives (tpr)
            "lorenz": fn.sum(((pos + neg) / (P + N))
                             * ((cpd - pos) + cpd) / P / 2),
        }
    return terms


class BinaryClassificationEvaluator(AlgoOperator, HasLabelCol,
                                    HasRawPredictionCol, HasWeightCol):
    """transform(df) -> one-row DataFrame with columns
    areaUnderROC, areaUnderPR, ks, areaUnderLorenz."""

    @property
    def last_plan_(self) -> str:
        """Plan of the last transform's ordering step: the range-partitioned
        sort, or the relation collected to the driver (for tests and
        debugging)."""
        return self._ordered_by._jdf.queryExecution().toString()

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        spark = df.sparkSession
        lcol = self.get_("labelCol")
        rcol = self.get_("rawPredictionCol")
        wcol = self.get_("weightCol")
        w = F.col(wcol).cast("double") if wcol else F.lit(1.0)
        # rawPrediction may be a 2-array (prob per class) or a scalar score
        rtype = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[rcol]
        score = (F.element_at(F.col(rcol), 2) if rtype.startswith("array")
                 else F.col(rcol).cast("double"))
        y = F.col("y")
        grouped = (df.select(score.alias("s"),
                             F.col(lcol).cast("double").alias("y"),
                             w.alias("w"))
                   .groupBy("s")
                   .agg(F.sum(F.when(y == 1.0, F.col("w")).otherwise(0.0)).alias("pos"),
                        F.sum(F.when(y != 1.0, F.col("w")).otherwise(0.0)).alias("neg"),
                        F.count(F.when(y.isNull(), 1)).alias("null_y"))
                   .persist())
        try:
            # ONE pass materializes the (distinct-score-sized) cache and
            # yields its size, the totals and the invalid-input counts
            tot = score_totals(grouped, "BinaryClassificationEvaluator",
                               rcol, lcol, F.sum("pos").alias("p"),
                               F.sum("neg").alias("n"))
            P = float(tot["p"] or 0.0)
            N = float(tot["n"] or 0.0)
            if P == 0 or N == 0:
                return [driver_frame(spark, [(float("nan"),) * 4], _SCHEMA)]
            rel = grouped.select("s", "pos", "neg")
            cum = ordered_cumsum(rel, [("s", False)], ["pos", "neg"],
                                 int(tot["m"]), exact=True)
            self._ordered_by = cum.source
            try:
                agg = cum.agg(_metric_terms(P, N))
            finally:
                cum.release()
        finally:
            grouped.unpersist()
        return [driver_frame(spark, [(
            float(agg["u"]) / (P * N), float(agg["auprc"]),
            float(agg["ks"]), float(agg["lorenz"]))], _SCHEMA)]
