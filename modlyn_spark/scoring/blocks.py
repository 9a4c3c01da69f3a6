"""Per-batch block layout of the mini-batch trainer.

The engine's one stacked softmax trainer (``scoring/logreg._SoftmaxStack``,
behind ``DistributedLogReg``, ``RegPathLogReg`` and ``CVLogReg``) takes one
gradient step per mini-batch for all its models at once. Filtering a
cached table by ``batch_id`` still launches one task per cached partition
on every step, so a step used to cost a full-width Python stage of which
all but one task read nothing. This layout makes each step one Spark job
of ONE task:

1. the training columns are hash-repartitioned once, in the JVM, into
   ``n_batches`` partitions such that partition ``b`` holds batch ``b``
   alone (one shuffle of ``UnsafeRow``s; its map stage runs at set-up),
   and each partition is sorted by ``(label, fold, features)`` in the JVM
   (an external sort that spills like any other), which fixes a
   canonical row order;
2. an Arrow map streams each partition and cuts it into blocks of at
   most ``BLOCK_BYTES``, each one raw buffer (row count, labels, optional
   fold ids, float64 features). The blocks are kept in the JVM as plain
   byte arrays, cached MEMORY_AND_DISK; the batches the first steps read
   are packed up front, in parallel, any other on first use;
3. a step runs ``SparkContext.runJob`` on partition ``bid``; the task
   streams the batch's blocks (with their fold ids when the trainer masks
   rows per model), sums their gradient partials in block order and ships
   back one partial as numpy arrays.

Determinism: rows reach the pack in the canonical order and blocks are
cut at fixed row counts, so a batch's blocks, and the order their
partials are summed in, do not depend on how the shuffle delivered the
rows; each step has exactly one partial to combine, so weights are
bit-identical at any parallelism (the N-vs-4N invariant).

Scale notes: per step the driver ships O(weights) bytes to one task,
which reads one batch's blocks and holds one at a time; no block comes
near Arrow's 2 GB binary limit, and the pack holds one block plus one
Arrow batch. The other cached partitions are not touched. A step's
numpy work runs on one core: the layout pays off when steps are many
and batches modest, the mini-batch regime; a batch of millions of rows
would rather be split over several tasks.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
from pyspark import StorageLevel
from pyspark.rdd import RDD
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# target size of one packed block; a batch larger than this spans several
BLOCK_BYTES = 32 << 20


def _dense(col, d: int) -> np.ndarray:
    """An Arrow list<number> column of length-``d`` lists as float64 (n, d).
    A null vector, a null value or a vector of another length raises."""
    import pyarrow.compute as pc

    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    flat = col.flatten()
    if col.null_count or flat.null_count or (lengths != d).any():
        raise ValueError(f"every feature vector must hold exactly {d} values")
    flat = flat.to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(col), d)


def _null_as_nan(col):
    """A list<number> column whose null values (inside its lists) read as
    NaN. A column holding a null list is returned as it is, for
    ``_dense`` to reject."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if col.null_count or not col.flatten().null_count:
        return col
    values = pc.fill_null(col.values.cast(pa.float64()), np.nan)
    return type(col).from_arrays(col.offsets, values)


def _block(y: np.ndarray, fold, X: np.ndarray) -> bytes:
    """One block's buffer: int64 row count n, y, [fold], X (n, d)."""
    parts = [np.array([len(y)], dtype=np.int64), y]
    if fold is not None:
        parts.append(fold)
    return b"".join(p.tobytes() for p in parts + [X])


def _unblock(buf: bytes, d: int, has_fold: bool):
    """(X, y, fold) views over a block buffer (no copy)."""
    n = int(np.frombuffer(buf, dtype=np.int64, count=1)[0])
    y = np.frombuffer(buf, dtype=np.int64, count=n, offset=8)
    off = 8 + 8 * n
    fold = None
    if has_fold:
        fold = np.frombuffer(buf, dtype=np.int64, count=n, offset=off)
        off += 8 * n
    X = np.frombuffer(buf, dtype=np.float64, count=n * d, offset=off)
    return X.reshape(n, d), y, fold


def _pack_fn(d: int, has_fold: bool, block_rows: int):
    """mapInArrow body: the sorted (features, label, batch[, fold]) rows
    of batch ``partition id`` -> blocks of at most ``block_rows`` rows."""

    def pack(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        held: list[tuple] = []  # row runs not yet emitted, in order
        n_held = 0

        def emit():
            y, fold, X = (
                None if held[0][i] is None else np.concatenate([h[i] for h in held])
                for i in range(3)
            )
            held.clear()
            return pa.RecordBatch.from_arrays(
                [pa.array([_block(y, fold, X)], type=pa.binary())], names=["block"]
            )

        for rb in batches:
            if not rb.num_rows:
                continue
            label, bids = rb.column(1), rb.column(2).to_numpy()
            if label.null_count or (has_fold and rb.column(3).null_count):
                raise ValueError("label index and fold columns must not hold nulls")
            if (bids != pid).any():
                raise RuntimeError(
                    f"partition {pid} received rows of batch(es) "
                    f"{sorted(set(bids[bids != pid].tolist()))}: Spark's hash "
                    "partitioning rule changed"
                )
            X = _dense(rb.column(0), d)
            y = label.to_numpy().astype(np.int64)
            fold = rb.column(3).to_numpy().astype(np.int64) if has_fold else None
            s = 0
            while s < len(y):
                t = min(len(y), s + block_rows - n_held)
                held.append((y[s:t], None if fold is None else fold[s:t], X[s:t]))
                n_held += t - s
                s = t
                if n_held == block_rows:
                    yield emit()
                    n_held = 0
        if held:
            yield emit()

    return pack


def _summed(d: int, has_fold: bool, fn: Callable):
    """runJob body: ``fn(X, y, fold)`` over the partition's blocks, summed
    in block order; nothing if the partition (batch) has no rows."""

    def run(bufs: Iterator) -> Iterator:
        total = None
        for buf in bufs:
            part = fn(*_unblock(buf, d, has_fold))
            total = part if total is None else tuple(t + p for t, p in zip(total, part))
        if total is not None:
            yield total

    return run


def _count(bufs: Iterator) -> Iterator:
    yield sum(1 for _ in bufs)


class BatchBlocks:
    """A training set laid out as cached numpy blocks per mini-batch.

    Args:
        df: frame holding the feature, label-index and batch-id columns
            (and ``fold_col`` when given).
        n_features: feature-vector length ``d``.
        n_batches: batch ids are ``0 .. n_batches-1``; ``None`` scans the
            frame for the largest id.
    """

    def __init__(
        self,
        df: DataFrame,
        *,
        n_features: int,
        features_col: str = "features",
        label_idx_col: str = "label_idx",
        batch_col: str = "batch_id",
        fold_col: str | None = None,
        n_batches: int | None = None,
    ):
        extra = [fold_col] if fold_col else []
        data = df.select(features_col, label_idx_col, batch_col, *extra)
        if n_batches is None:
            n_batches = data.agg(F.max(batch_col)).collect()[0][0] + 1
        self.n_batches = int(n_batches)
        self.d = int(n_features)
        self.has_fold = fold_col is not None
        spark = df.sparkSession
        self.sc = spark.sparkContext
        # partition b holds batch b alone. repartition(n, key) puts a row in
        # partition pmod(murmur3(key), n), so each batch id is mapped to a
        # key that Spark's own hash sends to the partition of that id: the
        # smallest of 32n candidates hashing there (one single-task job; a
        # partition is left without a candidate with odds ~n*e^-32)
        n = self.n_batches
        btype = data.schema[batch_col].dataType
        hashed = (
            spark.range(0, 32 * n, 1, 1)
            .select(F.pmod(F.hash(F.col("id").cast(btype)), F.lit(n)).alias("p"))
            .toPandas()["p"]
            .to_numpy()
        )
        found, keys = np.unique(hashed, return_index=True)
        if len(found) < n:
            raise RuntimeError(f"no partitioning key found for {n} batches")
        key = F.element_at(
            F.expr(f"array({','.join(map(str, keys))})"),
            (F.col(batch_col) + 1).cast("int"),
        ).cast(btype)
        block_rows = max(1, BLOCK_BYTES // (8 * (self.d + 2)))
        # rows whose batch id is null or out of range are never trained on;
        # the sort fixes each batch's row order (the canonical order)
        packed = (
            data.where(F.col(batch_col).between(0, n - 1))
            .repartition(n, key)
            .sortWithinPartitions(label_idx_col, *extra, features_col)
            .mapInArrow(_pack_fn(self.d, self.has_fold, block_rows), "block binary")
        )
        # the blocks as a JVM RDD of byte arrays, handed to Python workers
        # as raw bytes (a DataFrame's .rdd would re-encode every block
        # through the JVM's pickler, measured at ~25 MB/s). Taking the RDD
        # plans the query, which runs the shuffle's
        # map stage now. The RDD is cached, not the frame (adaptive
        # execution would materialize a cached frame in full).
        binary = self.sc._jvm.org.apache.spark.sql.Encoders.BINARY()
        jrdd = getattr(packed._jdf, "as")(binary).rdd().toJavaRDD()
        self._rdd = RDD(jrdd, self.sc, NoOpSerializer()).persist(
            StorageLevel.MEMORY_AND_DISK
        )

    def run(self, bid: int, fn: Callable):
        """``fn(X, y, fold)`` over batch ``bid``'s blocks, summed in block
        order, as one Spark job of one task; ``None`` if the batch has no
        rows. ``fn`` returns a tuple of addable partials and is shipped to
        the executor, so it should close over O(model) state only."""
        out = self.sc.runJob(self._rdd, _summed(self.d, self.has_fold, fn), [bid])
        return out[0] if out else None

    def train(
        self,
        partial_fn: Callable[[], Callable],
        apply_fn: Callable[[int, object], None],
        *,
        max_steps: int,
        max_epochs: int,
        epoch_callback: Callable[[int], None] | None = None,
    ) -> None:
        """The mini-batch loop: batches in increasing id order, one step
        per non-empty batch, at most ``max_steps`` steps over at most
        ``max_epochs`` epochs. Per step ``partial_fn()`` builds the
        executor function from the current weights and ``apply_fn(bid,
        partial)`` applies its result on the driver. ``epoch_callback(e)``
        runs after each completed epoch. The blocks the first
        ``max_steps`` steps read are packed up front, in parallel; the
        cached blocks are released when the loop ends."""
        step = 0
        try:
            # pack the batches the first steps read in one parallel job
            # rather than one per step
            first = list(range(min(max_steps, self.n_batches)))
            self.sc.runJob(self._rdd, _count, first)
            for epoch in range(max_epochs):
                if step >= max_steps:
                    break
                for bid in range(self.n_batches):
                    if step >= max_steps:
                        break
                    part = self.run(bid, partial_fn())
                    if part is None:
                        continue
                    apply_fn(bid, part)
                    step += 1
                if epoch_callback is not None:
                    epoch_callback(epoch)
        finally:
            self.unpersist()

    def unpersist(self) -> None:
        self._rdd.unpersist()
