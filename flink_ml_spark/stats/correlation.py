"""Pearson correlation matrix over an array column — one pass.

The reference's stats family (ChiSqTest/ANOVATest/FValueTest, SURVEY
§2.7) covers feature-vs-label association; a feature-vs-feature
correlation matrix is the natural completion (Spark MLlib ships it as
``ml.stat.Correlation``) and a standard pre-training diagnostic for
embedding / numeric-feature tables.

Scale design: the sufficient statistic is exactly the covariance
partial (n, Σx, ΣxxT) already used by PCAWhitener — ONE zero-shuffle
``mapInPandas`` pass emitting dim + dim² doubles per partition, combined
driver-side; corr(i,j) = cov(i,j) / (σi·σj) is then dim×dim driver
arithmetic.  Rows leaving the cluster = number of partitions, output
rows = dim·(dim+1)/2 — both independent of corpus size.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..api import AlgoOperator
from ..common.dataflow import (ascending_codes, driver_frame,
                               ordered_cumsum, sized)
from ..param import HasFeaturesCol, StringParam

_SCHEMA = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("j", T.IntegerType()),
    T.StructField("corr", T.DoubleType()),
])


class CorrelationMatrix(AlgoOperator, HasFeaturesCol):
    """``transform(df)`` → one DataFrame of flattened upper-triangle
    Pearson correlations ``(i, j, corr)`` with ``i ≤ j`` over the
    ``featuresCol`` array column.  Sample covariance (n−1 denominator,
    matching ANSI ``CORR`` — the denominator cancels in the ratio, so
    sample vs population gives identical correlations).  Zero-variance
    dimensions yield null (undefined), not ±inf."""

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        from ..llmdata.simsearch import covariance_partials
        n, _, cov = covariance_partials(df, self.get_("featuresCol"))
        sd = np.sqrt(np.diag(cov))
        rows = []
        for i in range(cov.shape[0]):
            for j in range(i, cov.shape[0]):
                if sd[i] > 0 and sd[j] > 0:
                    c = float(cov[i, j] / (sd[i] * sd[j]))
                    # clamp the last-ulp excursions the two-step
                    # (ΣxxT − n·x̄x̄ᵀ) form can produce
                    c = max(-1.0, min(1.0, c))
                else:
                    c = None
                rows.append((i, j, c))
        return [df.sparkSession.createDataFrame(rows, _SCHEMA)]


class MutualInformation(AlgoOperator):
    """Mutual information (nats) + normalized MI between two categorical
    columns — the Deequ ``MutualInformation`` analyzer: the dependence
    diagnostic ChiSq tests for but doesn't quantify (how much does
    ``source`` determine ``lang``?), and a standard redundant-feature /
    leakage check before training.

    ``transform(df)`` → TWO outputs: ``[0]`` one row ``(n, mi, nmi)``;
    ``nmi = MI / sqrt(H(x)·H(y))`` (0 when either entropy is 0 — a
    constant column shares no information); ``[1]`` the integer-exact
    contingency relation ``(x, y, c, cx, cy, n)`` — one row per joint
    cell with its marginals and the grand total, all counts.  The
    contingency output is what the cross-engine correctness gate hashes
    (pure integers, no transcendental formatting ambiguity); the mi/nmi
    scalars are pytest-oracled against numpy.

    Plan: ONE corpus scan builds the joint contingency ``groupBy(x, y)``
    (map-side partial-combined); the contingency is cardinality-sized
    (|X|·|Y| rows) by construction, so it is collected once and the
    MI/entropy sums run driver-side in numpy over CANONICALLY SORTED
    keys — bit-deterministic regardless of partitioning (a distributed
    ``F.sum`` over doubles is partition-order dependent, and the r04
    driver environment produced a different last-ulp value than the
    local run on exactly that path).  NULL is a category like any other
    (the groupBy keeps it, and the driver-side marginals key on the raw
    value, so no null-unsafe join can drop NULL cells from the MI sum
    while leaving them in n and the entropies).
    """

    xCol = StringParam("xCol", "First categorical column.", "x")
    yCol = StringParam("yCol", "Second categorical column.", "y")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        x, y = self.get_("xCol"), self.get_("yCol")
        cell_schema = T.StructType(
            list(df.select(x, y).schema.fields)
            + [T.StructField(c, T.LongType()) for c in
               ("c", "cx", "cy", "n")])
        rows = df.groupBy(x, y).agg(F.count(F.lit(1)).alias("c")).collect()
        n = sum(r["c"] for r in rows)
        if n == 0:
            return [df.sparkSession.createDataFrame(
                [(0, 0.0, 0.0)], "n long, mi double, nmi double"),
                df.sparkSession.createDataFrame([], cell_schema)]
        # canonical key order (NULLs last) -> fixed summation order
        key = lambda v: (v is None, 0 if v is None else v)
        cells = sorted(((r[x], r[y], r["c"]) for r in rows),
                       key=lambda t: (key(t[0]), key(t[1])))
        cx: dict = {}
        cy: dict = {}
        for kx, ky, c in cells:
            cx[kx] = cx.get(kx, 0) + c
            cy[ky] = cy.get(ky, 0) + c
        nf = float(n)
        c_arr = np.array([c for _, _, c in cells], dtype=np.float64)
        cx_arr = np.array([cx[kx] for kx, _, _ in cells], dtype=np.float64)
        cy_arr = np.array([cy[ky] for _, ky, _ in cells], dtype=np.float64)
        mi = float(np.sum((c_arr / nf)
                          * np.log(c_arr * nf / (cx_arr * cy_arr))))
        def ent(marg: dict) -> float:
            a = np.array([marg[k] for k in sorted(marg, key=key)],
                         dtype=np.float64)
            return float(np.sum((a / nf) * -np.log(a / nf)))

        hx, hy = ent(cx), ent(cy)
        denom = (hx * hy) ** 0.5
        nmi = (mi / denom) if denom > 0 else 0.0
        cell_rows = [(kx, ky, int(c), int(cx[kx]), int(cy[ky]), int(n))
                     for kx, ky, c in cells]
        return [df.sparkSession.createDataFrame(
            [(int(n), float(mi), float(nmi))],
            "n long, mi double, nmi double"),
            df.sparkSession.createDataFrame(cell_rows, cell_schema)]


def _exact_dot(w: np.ndarray, v: np.ndarray) -> int:
    """Σ w·v as a Python int, exact for non-negative int64 ``w`` and ``v``
    while Σw < 2^31: ``v`` splits at 2^32, so neither int64 partial sum
    can overflow (Σ c·rx·ry overflows int64 itself at ~1.3 M rows)."""
    hi, lo = np.divmod(v, 1 << 32)
    return (int((w * hi).sum()) << 32) + int((w * lo).sum())


def _midranks_local(v, c: np.ndarray):
    """Per row of a collected tie-collapsed relation (value column ``v``,
    multiplicity ``c``): TWICE its value's average-tie midrank, 2·cum − t
    + 1 — an integer, so rank sums stay exact — and ``t`` per distinct
    value, in Spark's order (``dataflow.ascending_codes``)."""
    _, inv = np.unique(ascending_codes(v), return_inverse=True)
    t = np.bincount(inv, weights=c).astype(np.int64)
    return (2 * np.cumsum(t) - t + 1)[inv], t


def _midranks(joint: DataFrame, col: str, rows: int,
              held: list) -> DataFrame:
    """``_midranks_local`` for a ``joint`` relation (multiplicity ``c``, at
    most ``rows`` rows) that stays distributed: ``(v, t, r2)`` per distinct
    value of ``col``, from ``ordered_cumsum``'s running count over the
    marginal in whichever regime it fits.  Appends the ``Relation`` to
    ``held`` for the caller to release."""
    marg = joint.groupBy(F.col(col).alias("v")).agg(F.sum("c").alias("t"))
    cum = ordered_cumsum(marg, [("v", True)], ["t"], rows)
    held.append(cum)
    return cum.select(lambda fn, c: {
        "v": c("v"), "t": c("t"), "r2": 2 * c("cum_t") - c("t") + 1})


class SpearmanCorrelation(AlgoOperator):
    """Spearman rank correlation between two numeric columns: Pearson
    correlation of average-tie midranks, plus the t-distribution p-value
    (t² = ρ²(n−2)/(1−ρ²) ~ F(1, n−2)).  Completes the correlation family
    next to the Pearson ``CorrelationMatrix`` — rank correlation is the
    robust choice for heavy-tailed corpus statistics (doc lengths,
    frequency counts) where Pearson is leverage-dominated.

    Scale design: rows with a null in either column are dropped;
    ``groupBy(x, y)`` collapses ties to the joint relation (multiplicity
    c), and ρ comes from exact integer sums of doubled midranks (n, Σc·rx,
    Σc·ry, Σc·rx², Σc·ry², Σc·rx·ry), bit-identical under any partitioning.
    A joint relation within the driver budget (bounded by n, counted when
    n is over it: ``dataflow.sized``) is collected once and ranked in
    numpy, its products summed exactly by ``_exact_dot``; a larger one
    joins the ``_midranks`` of each marginal back for decimal(38,0)
    sums.  ``transform(df)`` → one row ``(n, rho, p_value)``.
    """

    xCol = StringParam("xCol", "First numeric column.", "x")
    yCol = StringParam("yCol", "Second numeric column.", "y")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        import math

        from ..common.special import f_sf
        (df,) = inputs
        spark = df.sparkSession
        xc, yc = self.get_("xCol"), self.get_("yCol")
        base = (df.select(F.col(xc).cast("double").alias("x"),
                          F.col(yc).cast("double").alias("y"))
                .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
        n = base.count()
        schema = "n long, rho double, p_value double"
        if n < 2:
            return [driver_frame(spark, [(n, float("nan"), float("nan"))],
                                 schema)]
        joint = sized(base.groupBy("x", "y").agg(F.count("*").alias("c")),
                      n)
        held = [joint]
        try:
            if joint.local:
                t = joint.table
                c = t.column("c").to_numpy()
                rx = _midranks_local(t.column("x"), c)[0]
                ry = _midranks_local(t.column("y"), c)[0]
                # Σ c·r ≤ n·(2n + 1) fits int64; the squares need _exact_dot
                a = {"sx": int((c * rx).sum()), "sy": int((c * ry).sum()),
                     "sxx": _exact_dot(c, rx * rx),
                     "syy": _exact_dot(c, ry * ry),
                     "sxy": _exact_dot(c, rx * ry)}
            else:
                j = joint.frame
                for k in ("x", "y"):
                    j = j.join(_midranks(joint.frame, k, joint.rows, held)
                               .select(F.col("v").alias(k),
                                       F.col("r2").alias("r" + k)), k)
                # decimal(38,0) sums: exact integers, no int64 overflow
                c, rx, ry = (F.col(k).cast("decimal(19,0)")
                             for k in ("c", "rx", "ry"))
                wx, wy = ((c * r).cast("decimal(38,0)") for r in (rx, ry))
                a = j.agg(F.sum(wx).alias("sx"), F.sum(wy).alias("sy"),
                          F.sum(wx * rx).alias("sxx"),
                          F.sum(wy * ry).alias("syy"),
                          F.sum(wx * ry).alias("sxy")).first().asDict()
                a = {k: int(v) for k, v in a.items()}
        finally:
            for r in held:
                r.release()
        num = n * a["sxy"] - a["sx"] * a["sy"]
        den = math.sqrt(float(n * a["sxx"] - a["sx"] ** 2)
                        * float(n * a["syy"] - a["sy"] ** 2))
        if den == 0:  # a constant column: rho undefined
            return [driver_frame(spark, [(n, float("nan"), float("nan"))],
                                 schema)]
        rho = max(-1.0, min(1.0, float(num) / den))
        if abs(rho) >= 1.0 or n <= 2:
            p = 0.0 if n > 2 else float("nan")
        else:
            t2 = rho * rho * (n - 2) / (1.0 - rho * rho)
            p = f_sf(t2, 1, n - 2)
        return [driver_frame(spark, [(n, rho, float(p))], schema)]
