"""The ordered-cumsum primitive and its callers in both regimes.

Every caller runs once at the default driver budget (the driver-memory
regime on test-sized data) and once with the budget pinned to 0 (the
range-partitioned regime, one partition per 64 rows up to the session's
8 shuffle partitions); integer outputs must match exactly and floats
within 1e-12.
"""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from flink_ml_spark.common import dataflow

TOL = 1e-12


def both_regimes(monkeypatch, run):
    """``run()`` in the driver-memory regime, then range-partitioned into
    up to 8 partitions of 64 rows."""
    local = run()
    with monkeypatch.context() as m:
        m.setattr(dataflow, "driver_budget", lambda spark: 0)
        m.setattr(dataflow, "_RANGE_ROWS", 64)
        distributed = run()
    return local, distributed


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return (a == b or (math.isnan(a) and math.isnan(b))
                or abs(a - b) <= TOL)
    return a == b


def assert_rows_match(a, b):
    assert len(a) == len(b) and a
    for ra, rb in zip(a, b):
        assert len(ra) == len(rb)
        for x, y in zip(ra, rb):
            assert same(x, y), (ra, rb)


@pytest.fixture(scope="module")
def scored(spark):
    """Scores with heavy ties and NaN-free labels, a NULL slice, 2,400 rows:
    enough distinct keys for every one of 8 range partitions."""
    rng = np.random.RandomState(11)
    rows = []
    for i in range(2400):
        y = float(rng.randint(0, 2))
        s = round(float(rng.randn() + 0.8 * y), 2)
        grp = ("a", "b", None)[i % 3]
        rows.append((i, grp, s, y, float(rng.randint(1, 4)),
                     round(float(s + rng.randn()), 1)))
    return spark.createDataFrame(
        rows, "id long, grp string, score double, label double, "
              "w double, other double").cache()


# ---------------------------------------------------------------- primitive

def _rows(cum):
    if cum.local:
        return cum.table.to_pylist()
    return [r.asDict() for r in cum.frame.collect()]


def test_driver_budget_reads_driver_memory_and_result_size(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == "8g"  # tests/conftest.py
    assert conf.get("spark.driver.maxResultSize", "1g") == "1g"
    want = (1 << 30) // 16  # a sixteenth of the smaller of the two
    assert dataflow.driver_budget(spark) == want
    rows = want // dataflow.ROW_BYTES
    assert dataflow.local_regime(spark, rows)
    assert not dataflow.local_regime(spark, rows + 1)
    assert not dataflow.local_regime(spark, rows, text_bytes=want // 2)


@pytest.mark.parametrize("ascending", [True, False])
def test_ordered_cumsum_follows_spark_order(spark, monkeypatch, ascending):
    """Nulls first ascending / last descending, NaN above every number,
    -0.0 tied with 0.0 by the groupBy: both regimes order exactly as
    Spark's own orderBy does, and the running sums follow that order."""
    vals = [3.0, None, float("nan"), -1.5, 0.0, -0.0, 2.5, None, 3.0,
            float("nan"), float("-inf"), float("inf")]
    rows = [(v, k) for k, v in enumerate(vals)]
    rel = (spark.createDataFrame(rows, "v double, k long")
           .groupBy("v").agg(F.count("*").alias("c"),
                             F.sum("k").alias("s")))
    key = F.col("v").asc() if ascending else F.col("v").desc()
    want = [(r["v"], r["c"]) for r in rel.orderBy(key).collect()]
    cum_want = list(np.cumsum([c for _, c in want]))

    def run():
        cum = dataflow.ordered_cumsum(rel, [("v", ascending)], ["c", "s"],
                                      len(vals))
        return cum.local, sorted(((r["cum_c"], r["v"], r["c"])
                                  for r in _rows(cum)), key=lambda t: t[0])

    (loc, got_l), (dist, got_d) = both_regimes(monkeypatch, run)
    assert loc and not dist
    for got in (got_l, got_d):
        assert [c for c, _, _ in got] == cum_want
        for (_, v, c), (wv, wc) in zip(got, want):
            assert c == wc
            assert (v is None and wv is None) or same(v, wv)


def test_ordered_cumsum_string_keys_with_nulls(spark, monkeypatch):
    rows = [("b",), (None,), ("a",), ("é",), ("B",), ("a",), (None,)]
    rel = (spark.createDataFrame(rows, "k string").groupBy("k")
           .agg(F.count("*").alias("c")))
    want = [r["k"] for r in rel.orderBy(F.col("k").desc()).collect()]

    def run():
        cum = dataflow.ordered_cumsum(rel, [("k", False)], ["c"], 7)
        return [r["k"] for r in sorted(_rows(cum),
                                       key=lambda r: r["cum_c"])]

    local, distributed = both_regimes(monkeypatch, run)
    assert local == distributed == want


def test_sized_counts_a_relation_its_bound_overstates(spark, monkeypatch):
    """An input row count over the budget only bounds a tie-collapsed
    relation: it is counted, and collected when its real size fits."""
    rel = spark.range(5000).groupBy((F.col("id") % 7).alias("k")).count()
    monkeypatch.setattr(dataflow, "driver_budget",
                        lambda spark: 100 * dataflow.ROW_BYTES)
    got = dataflow.sized(rel, 5000)
    assert got.local and got.rows == 7 and not got.held


def test_distributed_regime_sizes_partitions_and_releases(spark,
                                                          monkeypatch):
    """One range partition per ``_RANGE_ROWS`` rows of the counted
    relation, and ``release()`` frees every checkpoint it took."""
    monkeypatch.setattr(dataflow, "driver_budget", lambda spark: 0)
    monkeypatch.setattr(dataflow, "_RANGE_ROWS", 1000)
    def persisted():
        return {i.id() for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = persisted()
    rel = spark.range(12000).select((F.col("id") % 3500).alias("v")) \
        .groupBy("v").agg(F.count("*").alias("c"))
    cum = dataflow.ordered_cumsum(rel, [("v", True)], ["c"], 12000)
    assert not cum.local and cum.rows == 3500
    assert cum.frame.rdd.getNumPartitions() == 4  # 3500 // 1000 + 1
    assert cum.frame.agg(F.max("cum_c")).first()[0] == 12000
    assert len(persisted() - before) == 2  # the counted relation, ranges
    cum.release()
    assert not persisted() - before


# ------------------------------------------------------ forced-path parity

def test_binary_evaluator_regimes_match(spark, monkeypatch, scored):
    from flink_ml_spark.evaluation import BinaryClassificationEvaluator
    for wcol in ("", "w"):
        ev = BinaryClassificationEvaluator(labelCol="label",
                                           rawPredictionCol="score",
                                           weightCol=wcol)
        local, dist = both_regimes(
            monkeypatch, lambda: [tuple(ev.transform(scored)[0].first())])
        assert_rows_match(local, dist)
        assert "rangepartitioning" in ev.last_plan_


def test_ks_test_regimes_match(spark, monkeypatch, scored):
    from flink_ml_spark.stats import KolmogorovSmirnovTest
    ks = KolmogorovSmirnovTest(valueCol="score", groupCol="label")
    local, dist = both_regimes(
        monkeypatch, lambda: [tuple(ks.transform(scored)[0].first())])
    assert_rows_match(local, dist)


def test_sliced_auc_regimes_match(spark, monkeypatch, scored):
    from flink_ml_spark.evaluation import SlicedBinaryClassificationEvaluator
    ev = SlicedBinaryClassificationEvaluator(
        groupCol="grp", labelCol="label", rawPredictionCol="score")
    key = lambda r: (r[0] is not None, r[0] or "")
    local, dist = both_regimes(monkeypatch, lambda: sorted(
        map(tuple, ev.transform(scored)[0].collect()), key=key))
    assert [r[0] for r in local] == [None, "a", "b"]
    assert_rows_match(local, dist)


def test_spearman_regimes_match(spark, monkeypatch, scored):
    """NaN ranks above every number in both regimes; nulls are dropped."""
    from flink_ml_spark.stats import SpearmanCorrelation
    df = scored.select(
        F.when(F.col("id") % 97 == 0, F.lit(float("nan")))
        .otherwise(F.col("score")).alias("x"),
        F.when(F.col("id") % 89 == 0, F.lit(None))
        .otherwise(F.col("other")).alias("y"))
    sp = SpearmanCorrelation(xCol="x", yCol="y")
    local, dist = both_regimes(
        monkeypatch, lambda: [tuple(sp.transform(df)[0].first())])
    assert_rows_match(local, dist)
    assert local[0][0] == 2400 - 27  # ids divisible by 89 dropped


def test_mann_whitney_regimes_match(spark, monkeypatch, scored):
    from flink_ml_spark.stats import MannWhitneyUTest
    df = scored.select(
        F.col("grp"),
        F.when(F.col("id") % 101 == 0, F.lit(float("nan")))
        .otherwise(F.col("score")).alias("v"))  # NULL group rows dropped
    mw = MannWhitneyUTest(groupCol="grp", valueCol="v")
    local, dist = both_regimes(
        monkeypatch, lambda: [tuple(mw.transform(df)[0].first())])
    assert_rows_match(local, dist)
    assert local[0][:4] == ("a", "b", 800, 800)


@pytest.mark.parametrize("alpha", [0.2, 0.01])
def test_conformal_regimes_match(spark, monkeypatch, scored, alpha):
    """At alpha=0.01 the order statistic lands on the NaN residuals,
    which sort above every number."""
    from flink_ml_spark.regression import ConformalRegressor
    df = scored.select(
        F.col("score").alias("label"),
        F.when(F.col("id") % 40 == 0, F.lit(float("nan")))
        .otherwise(F.round(F.col("other"), 0)).alias("prediction"))
    est = ConformalRegressor(alpha=alpha, labelCol="label",
                             predictionCol="prediction")
    local, dist = both_regimes(
        monkeypatch, lambda: [tuple(est.fit(df).model_data.values())])
    assert_rows_match(local, dist)
    assert math.isnan(local[0][0]) == (alpha == 0.01)


def test_key_skew_regimes_match_numeric_keys_with_null(spark, monkeypatch):
    """The ascending (cnt, key desc) order must follow Spark's ordering of
    the key's own type — numbers, not their strings — and its NULLs."""
    from flink_ml_spark.llmdata import KeySkewProfiler
    rows = ([(i % 23,) for i in range(900)] + [(None,)] * 39
            + [(100,)] * 39 + [(9,)] * 2)
    df = spark.createDataFrame(rows, "k long")
    p = KeySkewProfiler(inputCol="k", topK=4)
    local, dist = both_regimes(monkeypatch, lambda: sorted(
        map(tuple, p.transform(df)[0].collect()), key=lambda r: r[3]))
    assert_rows_match(local, dist)
    # ranks by (cnt desc, key asc): NULL first, keys ordered as numbers
    assert [r[0] for r in local] == (
        ["9", "0", "1", "2", None]
        + [str(k) for k in range(3, 23) if k != 9] + ["100"])


def test_key_skew_regimes_match_nested_keys(spark, monkeypatch):
    """Nested keys have no Arrow ordering: the driver-memory regime sorts
    them in Spark before its collect, and must still match."""
    from flink_ml_spark.llmdata import KeySkewProfiler
    rows = [([i % 7, i % 3],) for i in range(300)] + [(None,)] * 5
    df = spark.createDataFrame(rows, "k array<int>")
    p = KeySkewProfiler(inputCol="k", topK=2)
    local, dist = both_regimes(monkeypatch, lambda: sorted(
        map(tuple, p.transform(df)[0].collect()), key=lambda r: r[3]))
    assert len(local) == 22
    assert_rows_match(local, dist)


def test_cv_auc_regimes_match(spark, monkeypatch, scored):
    from flink_ml_spark.tuning import _auc_of
    local, dist = both_regimes(
        monkeypatch, lambda: [(_auc_of(scored, "label", "score"),)])
    assert_rows_match(local, dist)


# ------------------------------------------------------ null / NaN inputs

# (score, label) of one poisoned row as SQL, and the column to be named
INVALID = {
    "null_score": ("CAST(NULL AS DOUBLE)", "label", "score"),
    "nan_score": ("CAST('NaN' AS DOUBLE)", "label", "score"),
    "null_label": ("score", "CAST(NULL AS DOUBLE)", "label"),
}


def _poisoned(scored, case):
    s, y, _ = INVALID[case]
    bad = F.col("id") == 7
    return scored.select(
        "grp", F.when(bad, F.expr(s)).otherwise(F.col("score")).alias("score"),
        F.when(bad, F.expr(y)).otherwise(F.col("label")).alias("label"))


@pytest.mark.parametrize("budget", ["default", "zero"])
@pytest.mark.parametrize("case", list(INVALID))
def test_binary_evaluator_rejects_invalid(spark, monkeypatch, scored, case,
                                          budget):
    from flink_ml_spark.evaluation import BinaryClassificationEvaluator
    if budget == "zero":
        monkeypatch.setattr(dataflow, "driver_budget", lambda spark: 0)
    ev = BinaryClassificationEvaluator(labelCol="label",
                                       rawPredictionCol="score")
    with pytest.raises(ValueError, match=f"'{INVALID[case][2]}'"):
        ev.transform(_poisoned(scored, case))


@pytest.mark.parametrize("budget", ["default", "zero"])
@pytest.mark.parametrize("case", list(INVALID))
def test_sliced_evaluator_rejects_invalid(spark, monkeypatch, scored, case,
                                          budget):
    from flink_ml_spark.evaluation import SlicedBinaryClassificationEvaluator
    if budget == "zero":
        monkeypatch.setattr(dataflow, "driver_budget", lambda spark: 0)
    ev = SlicedBinaryClassificationEvaluator(
        groupCol="grp", labelCol="label", rawPredictionCol="score")
    with pytest.raises(ValueError, match=f"'{INVALID[case][2]}'"):
        ev.transform(_poisoned(scored, case))


@pytest.mark.parametrize("budget", ["default", "zero"])
@pytest.mark.parametrize("case", ["null_score", "nan_score"])
def test_ks_test_rejects_invalid(spark, monkeypatch, scored, case, budget):
    from flink_ml_spark.stats import KolmogorovSmirnovTest
    if budget == "zero":
        monkeypatch.setattr(dataflow, "driver_budget", lambda spark: 0)
    ks = KolmogorovSmirnovTest(valueCol="score", groupCol="label")
    with pytest.raises(ValueError, match="'score'"):
        ks.transform(_poisoned(scored, case))


# -------------------------------------------------------------- job counts

def test_consumers_run_at_most_half_the_former_jobs(spark):
    """On a 2,000-row frame the former range-partition pipeline ran 10
    (evaluator), 24 (Spearman) and 15 (Mann-Whitney) Spark jobs per call;
    the driver-memory regime must run at most half of each."""
    from flink_ml_spark.evaluation import BinaryClassificationEvaluator
    from flink_ml_spark.stats import MannWhitneyUTest, SpearmanCorrelation
    sc = spark.sparkContext
    df = (spark.range(2000)
          .select(F.round(F.rand(1), 3).alias("score"),
                  (F.rand(2) < 0.5).cast("double").alias("label"))
          .withColumn("margin", F.col("score") + F.rand(3))
          .withColumn("group", F.col("label").cast("string")).cache())
    df.count()
    limits = {
        "eval": (BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="score"), 10 // 2),
        "spearman": (SpearmanCorrelation(xCol="score", yCol="margin"),
                     24 // 2),
        "mann_whitney": (MannWhitneyUTest(groupCol="group",
                                          valueCol="score"), 15 // 2),
    }
    try:
        for name, (op, limit) in limits.items():
            group = f"ordered-cumsum-jobs-{name}"
            sc.setJobGroup(group, name)
            try:
                op.transform(df)[0].first()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert 0 < jobs <= limit, (name, jobs)
    finally:
        df.unpersist()


def test_exact_quantiles_regimes_match(spark, monkeypatch):
    """Per-dim order statistics from one (dim, value)-ordered running
    count: both regimes equal numpy's linear-interpolation percentiles."""
    from flink_ml_spark.common.aggregates import quantiles_vector_col
    X = np.round(np.random.RandomState(3).randn(900, 3), 1)  # ties
    df = spark.createDataFrame([(list(map(float, r)),) for r in X],
                               "v array<double>")
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    local, dist = both_regimes(monkeypatch, lambda: quantiles_vector_col(
        df, "v", probs, relative_error=0).tolist())
    assert local == dist
    want = np.percentile(X, [100 * p for p in probs], axis=0).T
    np.testing.assert_allclose(local, want, rtol=0, atol=1e-12)
