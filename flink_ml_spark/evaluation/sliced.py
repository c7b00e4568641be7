"""Sliced (per-group) binary-classification evaluation.

A single global AUC hides per-slice regressions — the standard fairness
/ data-quality practice is to evaluate per language, source, domain or
demographic slice.  Running BinaryClassificationEvaluator once per group
costs one job per slice; this operator computes EVERY slice's tie-aware
AUC in one pass from the Mann–Whitney midrank identity:

    AUC_g = (Σ_{pos∈g} midrank(score) − P_g(P_g+1)/2) / (P_g·N_g)

Plan: ``groupBy(group, score)`` collapses ties; one pass over it sizes
it and rejects null/NaN scores and null labels (``score_totals``); then
``common.dataflow.ordered_cumsum`` takes ONE running count in (group,
score) order — range-partitioned on the composite key above the driver
budget, so a dominant slice spreads over every partition.  A slice's own
count is the global one less ``base``, the count before the slice:

    Σ pos·midrank₂ = Σ pos·(2(cum − tot) + tot + 1) − 2·P_g·base_g

Doubled midranks are integers, so rank sums are exact.  A NULL slice is
a slice like any other.

``transform(df)`` → one row per group:
``(group, n, n_pos, auc)``; groups with no positives or no negatives
yield NaN auc (undefined), not an error.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator
from ..common.dataflow import Relation, ordered_cumsum
from ..param import HasLabelCol, HasRawPredictionCol, StringParam
from .binaryclassification import score_totals


def _slice_auc(fn, c, gcol: str) -> dict:
    """Output row of a slice from its (P, N, doubled positive rank sum)."""
    P, N = c("P") * 1.0, c("N") * 1.0
    return {gcol: c("g"), "n": c("P") + c("N"), "n_pos": c("P"),
            "auc": fn.where((P > 0) & (N > 0),
                            (c("r2") / 2.0 - P * (P + 1) / 2.0) / (P * N),
                            float("nan"))}


class SlicedBinaryClassificationEvaluator(AlgoOperator, HasLabelCol,
                                          HasRawPredictionCol):
    groupCol = StringParam("groupCol", "Slice column.", "group")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        spark = df.sparkSession
        gcol = self.get_("groupCol")
        rcol, lcol = self.get_("rawPredictionCol"), self.get_("labelCol")
        y = F.col("y")
        g = (df.select(F.col(gcol).alias("g"),
                       F.col(rcol).cast("double").alias("s"),
                       F.col(lcol).cast("double").alias("y"))
             .groupBy("g", "s")
             .agg(F.count(F.when(y == 1.0, 1)).alias("pos"),
                  F.count("*").alias("tot"),
                  F.count(F.when(y.isNull(), 1)).alias("null_y"))
             .persist())
        try:
            size = score_totals(
                g, "SlicedBinaryClassificationEvaluator", rcol, lcol,
                F.sum(F.octet_length(F.col("g").cast("string"))).alias("b"))
            cum = ordered_cumsum(
                g.select("g", "s", "pos", "tot"), [("g", True), ("s", True)],
                ["tot"], size["m"], int(size["b"] or 0), exact=True)
            if cum.local:
                t, at = cum.table, cum.runs("g")
                pos, tot, c = (t.column(k).to_numpy()
                               for k in ("pos", "tot", "cum_tot"))
                P = np.add.reduceat(pos, at)
                # int64 is exact: each slice's sum is at most n·(2n + 1)
                r2 = np.add.reduceat(pos * (2 * (c - tot) + tot + 1), at) \
                    - 2 * P * (c - tot)[at]
                stats = Relation(cum.source, table=pa.table({
                    "g": t.column("g").take(at), "P": P,
                    "N": np.add.reduceat(tot - pos, at),
                    "r2": r2.astype(float)}))
            else:
                dec = lambda c: c.cast("decimal(19,0)")
                below = F.col("cum_tot") - F.col("tot")
                stats = Relation(cum.source, frame=cum.frame.groupBy("g").agg(
                    F.sum("pos").alias("P"),
                    F.sum(F.col("tot") - F.col("pos")).alias("N"),
                    (F.sum((dec(F.col("pos"))
                            * dec(2 * below + F.col("tot") + 1))
                           .cast("decimal(38,0)"))
                     - (2 * dec(F.sum("pos")) * dec(F.min(below)))
                     .cast("decimal(38,0)")).cast("double").alias("r2")))
            return [stats.select(lambda fn, c: _slice_auc(fn, c, gcol))]
        finally:
            g.unpersist()
