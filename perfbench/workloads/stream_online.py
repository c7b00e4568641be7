"""``stream_online``: seeded document files replayed through ``readStream``
one file per micro-batch, deduplicated against a growing signature store
and fed to an online learner.

Why: without it the ``streaming`` module goes unmeasured.  Its cost is
per-micro-batch overhead: a closed loop of one stream with a fixed batch
size, each batch starting after the previous one commits, with
``StreamingIncrementalDeduplicator`` state that grows every batch and an
``OnlineLogisticRegression`` update per batch.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from ..measure import fingerprint
from .base import Workload

FILES = 8                # micro-batches per round
WARM_FILES = 4           # micro-batches of the warm-up stream
DOCS_PER_FILE = 100
WORDS_PER_DOC = 40
VOCAB = 5000
DIM = 8
CLONE_SHARE = 0.1        # share of each later file cloned from earlier ones
NOISE = 1.0
REPLAY_FILES = 4         # files the batch replay check re-runs
WEIGHT_TOLERANCE = 1e-9
QUERY_TIMEOUT_S = 120


def generate_files(folder: str, seed: int, files: int, docs: int) -> dict:
    """Write ``files`` parquet files of ``docs`` rows (id, text, features,
    label) with increasing mtimes, so a file source replays them in
    order.  Half the planted clones are exact copies of a document in an
    earlier file, half differ from it in one word.  Returns the planted
    exact clones as {clone id: original id}."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    w = rng.uniform(-1.0, 1.0, DIM)
    w /= np.linalg.norm(w) / np.sqrt(3.0)
    os.makedirs(folder)
    texts: list[str] = []
    exact: dict[int, int] = {}
    for f in range(files):
        start = f * docs
        words = rng.integers(0, VOCAB, (docs, WORDS_PER_DOC))
        batch = [" ".join(f"w{x}" for x in row) for row in words]
        if f:
            n_clones = int(docs * CLONE_SHARE)
            slots = rng.choice(docs, n_clones, replace=False)
            origins = rng.integers(0, start, n_clones)
            for k, (slot, orig) in enumerate(zip(slots, origins)):
                toks = texts[orig].split(" ")
                if k % 2 == 0:
                    exact[start + int(slot)] = int(orig)
                else:
                    toks[rng.integers(0, WORDS_PER_DOC)] = f"w{VOCAB + k}"
                batch[slot] = " ".join(toks)
        texts.extend(batch)
        x = rng.uniform(-1.0, 1.0, (docs, DIM))
        label = (x @ w + rng.uniform(-NOISE, NOISE, docs) > 0).astype(float)
        table = pa.table({
            "id": pa.array(np.arange(start, start + docs), pa.int64()),
            "text": pa.array(batch, pa.string()),
            "features": pa.array(list(x), pa.list_(pa.float64())),
            "label": pa.array(label, pa.float64()),
        })
        path = os.path.join(folder, f"part-{f:04d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (1_000_000_000 + f * 10,) * 2)
    return exact


def _duration(progress, key: str) -> float:
    return float(progress.durationMs.get(key, 0.0))


class StreamOnline(Workload):
    name = "stream_online"

    def __init__(self, *args):
        super().__init__(*args)
        self.docs = self.rows(DOCS_PER_FILE)
        self.batches: list[int] = []          # per round
        self.overhead_s: list[float] = []     # per round
        self.first = None

    @property
    def input_rows(self) -> int:
        return FILES * self.docs

    def prepare(self, spark) -> None:
        self.folder = os.path.join(self.work, "stream-in")
        shutil.rmtree(self.folder, ignore_errors=True)
        self.exact = generate_files(self.folder, self.seed, FILES, self.docs)

    def warm_up(self, spark) -> None:
        """A long-running stream: warm up on a stream of its own, so the
        measured batches run warm."""
        self.spark = spark
        folder = os.path.join(self.work, "stream-warm-in")
        shutil.rmtree(folder, ignore_errors=True)
        generate_files(folder, self.seed + 1, WARM_FILES, self.docs)
        self._stream(folder, self._run_dir("warm"))

    def _run_dir(self, tag: str) -> str:
        path = os.path.join(self.work, f"stream-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _stream(self, folder: str, run_dir: str):
        """One query over every file in ``folder``; returns (matches, the
        online weights after each batch, batch progress, dedup)."""
        from flink_ml_spark.streaming import (OnlineLogisticRegression,
                                              StreamingIncrementalDeduplicator)
        dedup = StreamingIncrementalDeduplicator(id_col="id", text_col="text")
        online = OnlineLogisticRegression(featuresCol="features",
                                          labelCol="label")
        matches: list[tuple] = []
        weights: list[list[float]] = []
        ph = self.phases if self.phases.rounds else None

        def batch(df, batch_id):
            t0 = time.perf_counter()
            m = dedup.process_batch(df)
            matches.extend(tuple(r) for r in m.collect())
            t1 = time.perf_counter()
            online.process_batch(df, batch_id)
            t2 = time.perf_counter()
            weights.append(online.weights().tolist())
            if ph is not None:
                ph.rounds[-1]["transform"] += t1 - t0
                ph.rounds[-1]["fit"] += t2 - t1

        schema = self.spark.read.parquet(folder).schema
        stream = (self.spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(folder))
        q = (stream.writeStream.foreachBatch(batch)
             .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(QUERY_TIMEOUT_S)
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return sorted(matches), weights, progress, dedup

    def run_round(self) -> None:
        out = self.outcome
        matches, weights, progress, dedup = self._stream(
            self.folder, self._run_dir("run"))
        ms = [_duration(p, "triggerExecution") for p in progress]
        self.latencies_ms += ms
        self.batches.append(len(ms))
        self.overhead_s.append(sum(
            t - _duration(p, "addBatch") for t, p in zip(ms, progress)) / 1e3)
        out.op(len(progress) == FILES)
        self.dedup = dedup
        res = {"matches": [list(m[:2]) for m in matches],
               "jaccard": [m[2] for m in matches], "weights": weights,
               "batches": len(progress)}
        if self.first is None:
            self.first = res
        else:
            out.check("round results repeat",
                      fingerprint(res) == fingerprint(self.first))

    def finish(self) -> None:
        """Replay the first ``REPLAY_FILES`` files as static batches
        through the batch operators and compare with the stream over the
        same files (the full replay would cost a second stream)."""
        from flink_ml_spark.llmdata import IncrementalMinHashDeduplicator
        from flink_ml_spark.streaming import OnlineLogisticRegression
        out, res = self.outcome, self.first
        out.fingerprint = fingerprint(res)
        files = sorted(f for f in os.listdir(self.folder)
                       if f.endswith(".parquet"))
        op = IncrementalMinHashDeduplicator(idCol="id", textCol="text")
        online = OnlineLogisticRegression(featuresCol="features",
                                          labelCol="label")
        store = self.spark.createDataFrame([], "id long, sig array<long>")
        pairs = set()
        for i, f in enumerate(files[:REPLAY_FILES]):
            df = self.spark.read.parquet(os.path.join(self.folder, f))
            matches, store = op.transform(df, store)
            pairs |= {tuple(r) for r in matches.select(
                "id", "match_id").collect()}
            store = store.localCheckpoint(eager=True)
            online.process_batch(df, i)
        streamed = {tuple(p) for p in res["matches"]}
        replayed = {p for p in streamed if p[0] < REPLAY_FILES * self.docs}
        out.check("streamed matches equal the batch incremental dedup",
                  replayed == pairs,
                  f"{len(replayed)} streamed, {len(pairs)} batch, "
                  f"first {REPLAY_FILES} files")
        # the stored id a clone matches may be its original or an earlier
        # near-duplicate of it, so the check is on the clone side
        found = set(self.exact) <= {i for i, _ in streamed}
        out.check("every planted exact clone is matched", found,
                  f"{len(self.exact)} planted")
        gap = float(np.max(np.abs(np.array(online.weights()) - np.array(
            res["weights"][REPLAY_FILES - 1]))))
        out.check("online weights equal a batch replay",
                  gap <= WEIGHT_TOLERANCE, f"max gap {gap:.3g}")
        out.check("one micro-batch per file", res["batches"] == len(files))
        # signature rows the dedup state holds after a full round
        self.state_rows = self.dedup.store.count()

    def layer_extras(self, first: int, count: int) -> dict[str, float]:
        rounds = range(first, first + count)
        return {"streaming.batches":
                    sum(self.batches[r] for r in rounds) / count,
                "streaming.state_rows": float(self.state_rows),
                "streaming.overhead_s":
                    sum(self.overhead_s[r] for r in rounds) / count}
