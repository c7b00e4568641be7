"""Dataflow primitives — the reference's "physical operator" layer (SURVEY
§2.8), re-expressed on Spark's public API.

Reference: flink-ml-core/src/main/java/org/apache/flink/ml/common/
datastream/DataStreamUtils.java (mapPartition :120, reduce :155-233,
aggregate :238-295, sample :300-321, allReduceSum :107 +
AllReduceImpl.java:24-40, coGroup :388-412, windowAllAndProcess :333-385,
generateBatchData :718) and broadcast/BroadcastUtils.java:41-110.

Most primitives collapse to one-line Spark built-ins — that is the point:
partial-then-final aggregation, sort-merge co-group, broadcast joins and
managed spill are Catalyst/Tungsten features, not library code.  They are
still exposed here as named functions so every reference utility has a
checkable, tested equivalent, and so algorithm code reads like the
reference design docs.
"""

from __future__ import annotations

from types import SimpleNamespace
from typing import Any, Callable, Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_partition(df: DataFrame, func: Callable, schema) -> DataFrame:
    """Buffer a partition, apply ``func(iterator[pandas.DataFrame]) ->
    iterator[pandas.DataFrame]`` (DataStreamUtils.mapPartition:120).
    Arrow-batched; ``func`` sees one partition per task."""
    return df.mapInPandas(func, schema=schema)


def reduce_rows(df: DataFrame, *aggs: Column):
    """Global partial→final reduction (DataStreamUtils.reduce:155-233).
    Spark plans a map-side partial HashAggregate per partition and a final
    merge — the explicit p-parallel → p=1 topology of the reference."""
    return df.agg(*aggs).first()


def aggregate_keyed(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """Keyed ACC-based aggregation (DataStreamUtils.aggregate:238-295)."""
    return df.groupBy(*keys).agg(*aggs)


def sample_n(df: DataFrame, n: int, seed: int = 0) -> list:
    """n rows without replacement (DataStreamUtils.sample:300-321 — the
    2-round distributed reservoir).  Driver receives exactly n rows; the
    oversample fraction bounds the collect size."""
    total = df.count()
    if total <= n:
        return df.collect()
    frac = min(1.0, (n * 4.0) / total + 1e-6)
    got = df.sample(False, frac, seed=seed).limit(n).collect()
    if len(got) < n:  # rare under-sample: fall back to exact
        got = df.limit(n).collect()
    return got


def top_k_per_key(df: DataFrame, part_cols: Sequence[str],
                  order_cols: Sequence[Column], k: int,
                  salt_cols: Sequence[str],
                  salt_buckets: int = 32,
                  rank_col: str | None = None) -> DataFrame:
    """Exact top-k per key with bounded task size (hot-key safe).

    A plain ``Window.partitionBy(key)`` rank puts EVERY row of a hot key
    through one task.  This is the classic two-stage refinement: stage 1
    ranks within (key, salt) — per-task rows bounded by key_rows /
    salt_buckets — and keeps k per salt; stage 2 ranks the surviving
    ≤ salt_buckets × k rows per key.  ``order_cols`` must be a TOTAL order
    (include a tiebreaker) so both stages agree and the result equals the
    single-stage rank exactly.  ``salt_cols`` name the columns whose
    deterministic hash spreads a key's rows across salts (use the unique
    tiebreaker, e.g. the per-row id).  ``rank_col`` keeps the final
    1-based rank.
    """
    from pyspark.sql import Window
    salt = F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets))
    salted = df.withColumn("__salt__", salt)
    w1 = Window.partitionBy(*part_cols, "__salt__").orderBy(*order_cols)
    pruned = (salted.withColumn("__rn1__", F.row_number().over(w1))
              .filter(F.col("__rn1__") <= k).drop("__rn1__"))
    w2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    ranked = pruned.withColumn(rank_col or "__rn2__",
                               F.row_number().over(w2))
    out = ranked.filter(F.col(rank_col or "__rn2__") <= k).drop("__salt__")
    return out if rank_col else out.drop("__rn2__")


def all_reduce_sum(df: DataFrame, vec_col: str) -> np.ndarray:
    """Sum one vector per row across the cluster and return it to the
    driver (DataStreamUtils.allReduceSum:107, AllReduceImpl.java:24-40).
    The reference's 3-stage chunked all-reduce becomes a partial/final
    aggregate: only one vector per partition crosses the shuffle, and the
    driver re-broadcasts the result — same communication volume, no custom
    protocol."""
    dim = len(df.select(vec_col).first()[0])
    row = df.agg(*[F.sum(F.col(vec_col)[i]).alias(f"s{i}")
                   for i in range(dim)]).first()
    return np.array([row[f"s{i}"] or 0.0 for i in range(dim)])


def co_group(left: DataFrame, right: DataFrame, left_key: str, right_key: str,
             func: Callable, schema) -> DataFrame:
    """Keyed two-input co-group (DataStreamUtils.coGroup:388-412, sort
    machinery datastream/sort/*).  Spark's cogroup + applyInPandas handles
    the sort/spill natively."""
    return (left.groupBy(left_key).cogroup(right.groupBy(right_key))
            .applyInPandas(func, schema=schema))


def window_all_and_process(df: DataFrame, windows, time_col: str | None,
                           *aggs: Column, clock: Column | None = None
                           ) -> DataFrame:
    """Apply a Windows strategy to the whole table
    (DataStreamUtils.windowAllAndProcess:333-385).  GlobalWindows → plain
    agg; tumbling event-time windows → F.window groups; count windows →
    monotonic-id bucketing (batch analogue of countWindowAll);
    processing-time windows → arrival stamp (``clock`` overrides the wall
    clock for deterministic tests) through the event-time machinery."""
    from ..streaming.windows import Windows, attach_processing_time
    w: Windows = windows
    if w.kind == "global":
        return df.agg(*aggs)
    if w.is_processing_time:
        df = attach_processing_time(df, "__proc_t__", clock)
        inner = Windows("event_time" if w.kind == "proc_time" else "session",
                        w.size)
        return window_all_and_process(df, inner, "__proc_t__", *aggs)
    if w.kind == "event_time":
        win = F.window(F.col(time_col), f"{w.size} milliseconds")
        return (df.groupBy(win.alias("w")).agg(*aggs)
                .withColumn("window_start", F.col("w")["start"]).drop("w"))
    if w.kind == "sliding":
        win = F.window(F.col(time_col), f"{w.size} milliseconds",
                       f"{w.slide} milliseconds")
        return (df.groupBy(win.alias("w")).agg(*aggs)
                .withColumn("window_start", F.col("w")["start"]).drop("w"))
    if w.kind == "session":
        win = F.session_window(F.col(time_col), f"{w.size} milliseconds")
        return (df.groupBy(win.alias("w")).agg(*aggs)
                .withColumn("window_start", F.col("w")["start"]).drop("w"))
    if w.kind == "count":
        # count windows impose a global sequence (countWindowAll) — built
        # two-phase (per-partition counts → broadcast offsets), never a
        # global single-task sort
        return (with_contiguous_id(df, "__seq__")
                .groupBy(F.floor((F.col("__seq__") - 1) / w.size)
                         .alias("window_id")).agg(*aggs))
    raise ValueError(f"unsupported window kind {w.kind}")


def with_contiguous_id(df: DataFrame, out_col: str = "__seq__") -> DataFrame:
    """Append a 1-based gap-free global row id in partition order
    (monotonically_increasing_id is partition-sparse): the running count
    of ``_running_sums`` — per-partition counts come back as broadcast
    offsets, and no unpartitioned Window puts all rows through one task.
    Requires a deterministic source (both jobs must see identical
    partitioning — true for (cached) file scans)."""
    one = (df.withColumn("__one__", F.lit(1).cast("long"))
           .withColumn("__pid__", F.spark_partition_id()))
    return (_running_sums(one, ["__one__"])
            .withColumnRenamed("cum___one__", out_col).drop("__one__"))


def generate_batch_data(df: DataFrame, batch_size: int) -> Iterable[DataFrame]:
    """Re-chunk a bounded table into global batches of ``batch_size``
    (DataStreamUtils.generateBatchData:718) — batch analogue used by the
    online estimators' tests; streaming uses real micro-batches."""
    n = df.count()
    num = max(1, -(-n // batch_size))
    tagged = with_contiguous_id(df, "__seq__") \
        .withColumn("__batch__", F.floor((F.col("__seq__") - 1) / batch_size)) \
        .drop("__seq__")
    for b in range(num):
        yield tagged.filter(F.col("__batch__") == b).drop("__batch__")


def with_broadcast(df: DataFrame, small: DataFrame, on, how: str = "inner") -> DataFrame:
    """Broadcast-join a small table into every task
    (BroadcastUtils.withBroadcastStream:41-110).  No deadlock machinery
    needed: fit already materialized the broadcast side."""
    return df.join(F.broadcast(small), on=on, how=how)


def numpy_block_rdd(df: DataFrame, col: str, parallelism: int | None = None):
    """Cache-ready RDD of one (rows × dim) float64 matrix per partition,
    built Arrow-vectorized (mapInArrow reshapes the list-array value
    buffer; one pickled blob per partition crosses the DF→RDD boundary —
    never a per-row Python object).  This is Spark MLlib's block-cache
    architecture for iterative learners: per-round work becomes
    mapPartitions(numpy) + treeReduce, with no query planning, columnar
    cache decode, or Arrow conversion inside the loop."""
    import pickle

    import pyarrow as pa

    data = df.select(F.col(col).cast("array<double>").alias("__v__"))
    if parallelism:
        parts = data.rdd.getNumPartitions()
        if parts < parallelism:
            data = data.repartition(parallelism)

    def conv(batches):
        mats = []
        for b in batches:
            arr = b.column(0)
            n = len(arr)
            if n == 0:
                continue
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            mats.append(flat.reshape(n, len(flat) // n))
        if mats:
            X = np.vstack(mats)
            yield pa.RecordBatch.from_arrays(
                [pa.array([pickle.dumps(X)])], ["blob"])

    return (data.mapInArrow(conv, "blob binary")
            .rdd.map(lambda r: pickle.loads(bytes(r[0]))))


# ---------------------------------------------------------------------------
# Ordered cumulative sums: the geometry of the exact evaluators, rank
# statistics and order statistics (collapse ties, order, running sums), in
# driver memory when the relation fits the driver budget — SystemML's hybrid
# plans — and range-partitioned otherwise.

# a driver-side relation may take this share of the driver's memory
_DRIVER_SHARE = 16
# Python driver bytes per relation row in the local regime, and per byte
# of its strings: the collected table, sort codes and permutation, the
# reordered copy, running sums and the callers' temporaries.  Measured
# peaks: 101-131 B/row over 2-4 numeric columns, 154 B/row with two
# ~9-byte string columns (every caller, 400k rows, 4-vCPU VM).
ROW_BYTES = 128
STRING_FACTOR = 3
# rows per range partition in the distributed regime
_RANGE_ROWS = 65536


def driver_budget(spark) -> int:
    """Bytes a driver-memory relation may hold: a sixteenth of the smaller
    of ``spark.driver.memory`` and ``spark.driver.maxResultSize`` (a
    result size of 0 means unlimited)."""
    conf = spark.sparkContext._jsc.sc().conf()
    mem = conf.getSizeAsMb("spark.driver.memory", "1g") << 20
    res = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    return (min(mem, res) if res else mem) // _DRIVER_SHARE


def local_regime(spark, rows: int, text_bytes: int = 0) -> bool:
    """The local/distributed gate: does a relation of ``rows`` rows holding
    ``text_bytes`` of strings fit the driver budget in the local regime?"""
    return rows * ROW_BYTES + STRING_FACTOR * text_bytes \
        <= driver_budget(spark)


def release(df: DataFrame) -> None:
    """Free the blocks of a frame this module checkpointed now, instead of
    when the ContextCleaner collects it."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def driver_frame(spark, rows: Sequence[tuple], schema) -> DataFrame:
    """Driver-side rows as a DataFrame over an Arrow-built local relation,
    which Spark reads back without a job (a plain row list goes through
    ``parallelize``).  ``schema``: a StructType or a DDL string."""
    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(st.names, r)) for r in rows],
        schema=to_arrow_schema(st)), st)


def ascending_codes(col: pa.ChunkedArray) -> np.ndarray:
    """Integer codes of ``col``, equal where its values are and ordered as
    Spark orders ascending: nulls first, NaN above every number, -0.0
    equal to 0.0.  Arrow's own order puts NaN with the nulls, so floating
    columns are coded here."""
    if not pa.types.is_floating(col.type):
        return pc.rank(col, sort_keys="ascending", null_placement="at_start",
                       tiebreaker="dense").to_numpy().astype(np.int64)
    v = col.to_numpy()
    cls = np.where(col.is_null().to_numpy(), 0, np.where(np.isnan(v), 2, 1))
    key = np.unique(np.where(cls == 1, v, 0.0), return_inverse=True)[1]
    return cls * (len(v) + 1) + key


def _sequential_sum(a: np.ndarray):
    """Left-to-right sum, the order a single Spark task adds in (numpy's
    own sum is pairwise and can differ in the last ulp)."""
    return np.cumsum(a)[-1] if len(a) else a.sum()


_NUMPY = SimpleNamespace(sum=_sequential_sum, max=np.max, abs=np.abs,
                         where=np.where)
_SQL = SimpleNamespace(sum=F.sum, max=F.max, abs=F.abs,
                       where=lambda c, a, b: F.when(c, a).otherwise(b))


class Relation:
    """A relation in one of the two regimes: a driver-side Arrow ``table``
    (``local``) or a ``frame`` of ``rows`` rows over the checkpoints in
    ``held``.  ``source`` is the DataFrame whose plan produced it.
    Consumers write a formula once as ``terms(fn, col) ->
    {name: expr}`` (``fn``: numpy's or Spark SQL's sum/max/abs/where;
    ``col(name)``: a numpy column or a Column) and both regimes evaluate
    it."""

    def __init__(self, source: DataFrame, table: pa.Table | None = None,
                 frame: DataFrame | None = None,
                 held: Sequence[DataFrame] = (), rows: int = 0):
        self.source, self.table, self.frame = source, table, frame
        self.local, self.held = table is not None, list(held)
        self.rows = table.num_rows if self.local else rows

    def release(self) -> None:
        """Free the checkpoints behind ``frame`` once it is consumed."""
        for df in self.held:
            release(df)

    def _eval(self, terms) -> dict:
        if not self.local:
            return terms(_SQL, F.col)

        def col(name):  # other columns stay Arrow, types and nulls intact
            a = self.table.column(name)
            numeric = (pa.types.is_integer(a.type)
                       or pa.types.is_floating(a.type))
            return a.to_numpy() if numeric and not a.null_count else a
        with np.errstate(divide="ignore", invalid="ignore"):
            return terms(_NUMPY, col)

    def runs(self, name: str) -> np.ndarray:
        """Local regime: start offsets of the runs of equal ``name`` values
        along the order (nulls equal each other, as in a groupBy)."""
        codes = ascending_codes(self.table.column(name))
        return np.flatnonzero(np.diff(codes, prepend=-1) != 0)

    def agg(self, terms) -> dict:
        """Reduce ``terms`` to one dict of Python scalars."""
        out = self._eval(terms)
        if self.local:
            return {k: v.item() for k, v in out.items()}
        return self.frame.agg(*[e.alias(k) for k, e in out.items()]) \
            .first().asDict()

    def select(self, terms) -> DataFrame:
        """Project ``terms`` per row; scalar terms repeat on every row."""
        out = self._eval(terms)
        if not self.local:
            return self.frame.select(*[
                (e if isinstance(e, Column) else F.lit(e)).alias(k)
                for k, e in out.items()])
        n = self.table.num_rows
        return self.source.sparkSession.createDataFrame(pa.table({
            k: np.full(n, v) if np.isscalar(v) else v
            for k, v in out.items()}))


def sized(rel: DataFrame, rows: int, text_bytes: int = 0,
          order: Sequence[Column] = (), exact: bool = False) -> Relation:
    """``rel`` in its regime, given at most ``rows`` rows (the input rows
    it was collapsed from, or its own count if ``exact``) and
    ``text_bytes`` of strings.  When that bound fits the driver budget,
    ``rel`` is collected (sorted by ``order`` first, if given).  Otherwise
    a bound is checked: ``rel`` is checkpointed and counted in one job — a
    tie-collapsed relation is often far smaller than the input that
    bounds it — and collected only if its real size fits.  A relation
    that stays distributed is the result's ``frame`` (``release()`` the
    result once consumed)."""
    spark = rel.sparkSession
    held = []
    if not local_regime(spark, rows, text_bytes):
        if exact:
            return Relation(rel, frame=rel, rows=rows)
        rel = rel.localCheckpoint(eager=False)
        held, rows = [rel], rel.count()
        if not local_regime(spark, rows, text_bytes):
            return Relation(rel, frame=rel, held=held, rows=rows)
    tbl = (rel.orderBy(*order) if order else rel).toArrow()
    for df in held:
        release(df)
    return Relation(rel, table=tbl)


def ordered_cumsum(rel: DataFrame, order: Sequence[tuple[str, bool]],
                   sums: Sequence[str], rows: int, text_bytes: int = 0,
                   exact: bool = False) -> Relation:
    """The tie-collapsed ``rel`` in ``order`` — ``(column, ascending)``
    pairs in Spark's semantics: nulls first ascending and last descending,
    NaN above every number — with an inclusive running sum ``cum_<s>`` of
    each long or double column in ``sums``.  ``sized(rel, rows,
    text_bytes, exact=exact)`` picks the regime:

    - local: one Arrow collect, ordered and summed in numpy (nested order
      columns are sorted by Spark before the collect);
    - distributed: the reference's plan — ``repartitionByRange`` (sampled
      boundaries) into one partition per ``_RANGE_ROWS`` rows, capped at
      ``spark.sql.shuffle.partitions``, per-partition sorts and Arrow
      running sums, and the per-partition totals (one row each to the
      driver) joined back as broadcast prefix offsets; no single-task
      global sort.  ``release()`` the result once consumed.
    """
    spark = rel.sparkSession
    keys = [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]
    cum = [f"cum_{s}" for s in sums]
    nested = any(isinstance(rel.schema[c].dataType,
                            (T.ArrayType, T.MapType, T.StructType))
                 for c, _ in order)
    got = sized(rel, rows, text_bytes, keys if nested else (), exact)
    if got.local:
        tbl = got.table
        if not nested:
            codes = [ascending_codes(tbl.column(c)) * (1 if asc else -1)
                     for c, asc in order]
            tbl = tbl.take(np.lexsort(codes[::-1]))
        for s, c in zip(sums, cum):
            tbl = tbl.append_column(c, pa.array(
                np.cumsum(tbl.column(s).to_numpy())))
        return Relation(rel, table=tbl)
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    npart = max(1, min(npart, got.rows // _RANGE_ROWS + 1))
    ranged = (got.frame.repartitionByRange(npart, *keys)
              .sortWithinPartitions(*keys)
              .withColumn("__pid__", F.spark_partition_id()))
    # checkpointed: the running-sum pass and the totals pass must see the
    # same partitions (the boundary sample need not repeat on re-execution);
    # the totals pass materializes it
    part = ranged.localCheckpoint(eager=False)
    return Relation(ranged, frame=_running_sums(part, sums),
                    held=[*got.held, part], rows=got.rows)


def _running_sums(part: DataFrame, sums: Sequence[str]) -> DataFrame:
    """Global inclusive running sums ``cum_<s>`` over ``part`` in partition
    order (``__pid__`` holds the partition id): an Arrow running sum per
    partition plus the totals of the partitions before it, collected once
    (one row per partition) and joined back as broadcast offsets.  Both
    passes must read ``part`` identically."""
    spark = part.sparkSession
    cum = [f"cum_{s}" for s in sums]
    totals = sorted(part.groupBy("__pid__")
                    .agg(*[F.sum(s).alias(s) for s in sums]).collect())
    types = [part.schema[s].dataType for s in sums]
    offs = []
    run = [0.0 if isinstance(t, T.DoubleType) else 0 for t in types]
    for r in totals:  # everything in the partitions ordered before
        offs.append((r["__pid__"], *run))
        run = [a + r[s] for a, s in zip(run, sums)]
    odf = spark.createDataFrame(offs, T.StructType(
        [T.StructField("__pid__", T.IntegerType())]
        + [T.StructField(f"off_{s}", t) for s, t in zip(sums, types)]))

    def running(batches):
        carry = [0] * len(sums)
        for b in batches:
            runs = []
            for j, s in enumerate(sums):
                c = np.cumsum(b.column(s).to_numpy(zero_copy_only=False)) \
                    + carry[j]
                if len(c):
                    carry[j] = c[-1]
                runs.append(pa.array(c))
            yield pa.RecordBatch.from_arrays(
                [*b.columns, *runs], names=[*b.schema.names, *cum])

    schema = T.StructType(part.schema.fields + [
        T.StructField(c, t) for c, t in zip(cum, types)])
    keep = [c for c in part.columns if c != "__pid__"]
    return (part.mapInArrow(running, schema)
            .join(F.broadcast(odf), "__pid__")
            .select(*keep, *[(F.col(c) + F.col(f"off_{s}")).alias(c)
                             for s, c in zip(sums, cum)]))
