"""Distributed per-dimension statistics over ``array<double>`` columns.

Replaces the reference's hand-rolled partial-then-final aggregations
(DataStreamUtils.reduce/aggregate, flink-ml-core/.../datastream/
DataStreamUtils.java:155-295; StandardScaler partials at
StandardScaler.java:75-101).  Spark-first plan: ``posexplode`` the vector
then ``groupBy(pos)`` — Catalyst's HashAggregate does map-side partial
aggregation, so only ``dim`` rows per partition hit the shuffle regardless
of row count; the final ``dim``-row result is collected to the driver
(fixed-size model state only — 100 TB-safe, no p=1 stage on raw data).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def summarize_vector_col(df: DataFrame, col: str, metrics=("count", "mean", "std", "min", "max")) -> dict[str, np.ndarray]:
    """Compute per-dimension stats of an array<double> column.

    Returns dict of metric -> np.ndarray(dim).  Supported metrics:
    count, mean, std (unbiased, stddev_samp), var, min, max, max_abs,
    l1, l2sq, sum.
    """
    from . import vector as V
    exploded = df.select(F.posexplode(V.dense_input(df, col)).alias("pos", "x"))
    aggs = [
        F.count("x").alias("count"),
        F.sum("x").alias("sum"),
        F.avg("x").alias("mean"),
        F.stddev_samp("x").alias("std"),
        F.var_samp("x").alias("var"),
        F.min("x").alias("min"),
        F.max("x").alias("max"),
        F.max(F.abs(F.col("x"))).alias("max_abs"),
        F.sum(F.abs(F.col("x"))).alias("l1"),
        F.sum(F.col("x") * F.col("x")).alias("l2sq"),
    ]
    rows = exploded.groupBy("pos").agg(*aggs).orderBy("pos").collect()
    dim = len(rows)
    out: dict[str, np.ndarray] = {}
    for m in set(metrics) | {"count"}:
        out[m] = np.array([float(r[m]) if r[m] is not None else 0.0 for r in rows])
    out["dim"] = dim  # type: ignore[assignment]
    return out


def quantiles_vector_col(df: DataFrame, col: str, probs: list[float],
                         relative_error: float = 0.001) -> np.ndarray:
    """Per-dimension approximate quantiles of an array<double> column.

    Greenwald-Khanna equivalent (reference QuantileSummary.java:42) via
    Spark's built-in mergeable percentile_approx sketch.  With
    ``relative_error == 0`` uses the exact interpolating ``F.percentile``
    (matches SQL percentile_cont/quantile_cont — used by oracle-checked
    paths; the sketch remains the 100 TB path).
    Returns array of shape (dim, len(probs)).
    """
    from . import vector as V
    exploded = df.select(F.posexplode(V.dense_input(df, col)).alias("pos", "x"))
    if relative_error == 0:
        return _exact_quantiles(exploded, probs)
    parr = F.array(*[F.lit(p) for p in probs])
    accuracy = max(1, int(1.0 / relative_error))
    agg = F.percentile_approx("x", parr, F.lit(accuracy)).alias("q")
    rows = exploded.groupBy("pos").agg(agg).orderBy("pos").collect()
    return np.array([list(r["q"]) for r in rows], dtype=float)


def _exact_quantiles(exploded: DataFrame, probs: list[float]) -> np.ndarray:
    """Exact interpolating quantiles (percentile_cont semantics) via order
    statistics: groupBy (pos, value) counts — a PARALLEL hash shuffle with
    map-side combine — then ``dataflow.ordered_cumsum``'s running count in
    (pos, value) order, in driver memory or range-partitioned.  Dims follow
    each other in that order, so rank i (0-based) of dim ``pos`` is global
    rank ``off[pos] + i``, with ``off`` the earlier dims' value counts.
    Avoids ``F.percentile``'s merge of per-partition value→count maps at
    one reducer, which is quadratic-ish pain on high-cardinality doubles
    (measured 1 s for one 600 k-distinct dim; this path is ~0.2 s and
    scales out)."""
    from .dataflow import ordered_cumsum

    counts = (exploded.where(F.col("x").isNotNull())
              .groupBy("pos", "x").agg(F.count("*").alias("c")).persist())
    try:
        dims = sorted(counts.groupBy("pos").agg(
            F.sum("c").alias("n"), F.count("*").alias("m")).collect())
        # per dim and prob: h = (n-1)p, the floor/ceil order statistics
        # between which it interpolates, as global ranks
        hs, off = {}, 0
        for pos, n, _ in dims:
            for p in probs:
                h = (n - 1) * p
                hs[pos, p] = (h, off + int(np.floor(h)), off + int(np.ceil(h)))
            off += n
        ranks = sorted({r for _, lo, hi in hs.values() for r in (lo, hi)})
        cum = ordered_cumsum(
            counts, [("pos", True), ("x", True)], ["c"],
            sum(m for *_, m in dims), exact=True)
        if cum.local:
            # the value at rank r is on the first row whose count passes r
            x = cum.table.column("x").to_numpy()
            at = np.searchsorted(cum.table.column("cum_c").to_numpy(), ranks,
                                 side="right")
            val = dict(zip(ranks, x[at].tolist()))
        else:
            hit = F.lit(False)
            for r in ranks:
                hit = hit | ((F.col("cum_c") - F.col("c") <= r)
                             & (F.col("cum_c") > r))
            val = {r: row["x"] for row in cum.frame.where(hit).collect()
                   for r in ranks
                   if row["cum_c"] - row["c"] <= r < row["cum_c"]}
            cum.release()
    finally:
        counts.unpersist()
    out = []
    for pos, _, _ in dims:
        qs = []
        for p in probs:
            h, lo, hi = hs[pos, p]
            vlo, vhi = val[lo], val[hi]
            qs.append(vlo + (h - int(np.floor(h))) * (vhi - vlo))
        out.append(qs)
    return np.array(out, dtype=float)


def weighted_moments(df: DataFrame, features_col: str, weight_col: str | None):
    """Weighted per-dim (sum_w, sum_wx, sum_wx2) — shared by learners."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ex = df.select(w.alias("w"), F.posexplode(F.col(features_col)).alias("pos", "x"))
    rows = (ex.groupBy("pos")
            .agg(F.sum("w").alias("sw"),
                 F.sum(F.col("w") * F.col("x")).alias("swx"),
                 F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swx2"))
            .orderBy("pos").collect())
    return (np.array([r["sw"] for r in rows]),
            np.array([r["swx"] for r in rows]),
            np.array([r["swx2"] for r in rows]))
