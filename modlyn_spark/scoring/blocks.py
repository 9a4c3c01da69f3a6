"""Per-batch block layout of the mini-batch trainer.

The engine's one stacked softmax trainer (``scoring/logreg._SoftmaxStack``,
behind ``DistributedLogReg``, ``RegPathLogReg`` and ``CVLogReg``) takes one
gradient step per mini-batch for all its models at once. A Spark job costs
~50 ms or more of fixed overhead plus a driver round trip, so a job per
step would spend the reference's step budget on launches. This layout runs
up to K steps in ONE task:

1. the training columns are hash-repartitioned once, in the JVM, into
   ceil(n_batches / K) partitions, K = ceil(n_batches / G) with
   ``G = min(n_batches, defaultParallelism)``, such that partition ``g``
   holds the K consecutive batches ``g*K .. g*K+K-1`` (one shuffle of
   ``UnsafeRow``s; its map stage runs at set-up), and each partition is
   sorted by ``(batch, label, fold, features)`` in the JVM (an external
   sort that spills like any other), which fixes a canonical row order.
   The partition keys come from a numpy port of Spark's int hash
   (``_hash_int``), so finding them runs no job;
2. an Arrow map streams each partition and cuts it into blocks of at
   most ``BLOCK_BYTES``, each one raw buffer (row count, batch id,
   labels, optional fold ids, float64 features); no block spans two
   batches. The blocks are kept in the JVM as plain byte arrays, cached
   MEMORY_AND_DISK; when the first steps read more than one partition
   those are packed up front, in parallel, any other on first use;
3. a step group runs ``SparkContext.runJob`` on partition ``g``: the task
   receives the trainer's state, and per batch in id order sums the
   gradient partials of the batch's blocks in block order and applies the
   update, for at most the steps left; it returns the new state and one
   record per step. The driver writes the state back between groups, so
   a group never spans an epoch and the epoch hook sees the update.

Determinism: rows reach the pack in the canonical order and blocks are
cut at fixed row counts from each batch's first row, so a batch's blocks,
and the order their partials are summed in, do not depend on how the
shuffle delivered the rows nor on K; a step has exactly one partial, so
weights are bit-identical at any parallelism (the N-vs-4N invariant).

Scale notes: per group the driver ships O(state) bytes to one task, which
reads K batches' blocks and holds one at a time; no block comes near
Arrow's 2 GB binary limit, and the pack holds one block plus one Arrow
batch. The other cached partitions are not touched. A step's numpy work
runs on one core: the layout pays off when steps are many and batches
modest, the mini-batch regime; a batch of millions of rows would rather
be split over several tasks.
"""

from __future__ import annotations

from itertools import groupby
from typing import Callable, Iterator

import numpy as np
from pyspark import StorageLevel
from pyspark.rdd import RDD
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# target size of one packed block; a batch larger than this spans several
BLOCK_BYTES = 32 << 20


def _group_size(n_batches: int, parallelism: int) -> int:
    """K, the number of consecutive batches one partition (and one step
    task) holds: the batches spread over at most ``parallelism``
    partitions."""
    return -(-n_batches // max(1, min(n_batches, parallelism)))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _hash_int(x: np.ndarray) -> np.ndarray:
    """Spark's ``hash`` of an int column: Murmur3_x86_32 ``hashInt`` with
    seed 42, as int32 (uint32 arithmetic wraps like Java's int)."""
    k = np.asarray(x, dtype=np.int64).astype(np.uint32)
    k = _rotl(k * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    h = _rotl(np.uint32(42) ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(4)  # the input length in bytes
    h = (h ^ (h >> np.uint32(16))) * np.uint32(0x85EBCA6B)
    h = (h ^ (h >> np.uint32(13))) * np.uint32(0xC2B2AE35)
    return (h ^ (h >> np.uint32(16))).view(np.int32)


def _partition_keys(n_parts: int) -> np.ndarray:
    """For each partition p, the smallest int that
    ``repartition(n_parts, key)`` (``pmod(hash(key), n_parts)``) sends to
    p; a partition is left without one of 64n candidates with odds
    ~n*e^-64."""
    cand = np.arange(64 * n_parts)
    found, keys = np.unique(_hash_int(cand) % n_parts, return_index=True)
    if len(found) < n_parts:
        raise RuntimeError(f"no partitioning key found for {n_parts} partitions")
    return cand[keys]


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


def _binary_rdd(df: DataFrame) -> RDD:
    """The single binary column of ``df`` as a JVM RDD of byte arrays,
    handed to Python workers as raw bytes (a DataFrame's ``.rdd`` would
    re-encode every value through the JVM's pickler, measured at
    ~25 MB/s). Taking the RDD plans the query, which runs the map stage of
    any exchange in it at once."""
    sc = df.sparkSession.sparkContext
    binary = sc._jvm.org.apache.spark.sql.Encoders.BINARY()
    return RDD(getattr(df._jdf, "as")(binary).rdd().toJavaRDD(), sc, NoOpSerializer())


def _block(bid: int, y: np.ndarray, fold, X: np.ndarray) -> bytes:
    """One block's buffer: int64 row count n, int64 batch id, y, [fold],
    X (n, d)."""
    parts = [np.array([len(y), bid], dtype=np.int64), y]
    if fold is not None:
        parts.append(fold)
    return b"".join(p.tobytes() for p in parts + [X])


def _unblock(buf: bytes, d: int, has_fold: bool):
    """(batch id, (X, y, fold)) with views over a block buffer (no copy)."""
    n, bid = (int(v) for v in np.frombuffer(buf, dtype=np.int64, count=2))
    y = np.frombuffer(buf, dtype=np.int64, count=n, offset=16)
    off = 16 + 8 * n
    fold = None
    if has_fold:
        fold = np.frombuffer(buf, dtype=np.int64, count=n, offset=off)
        off += 8 * n
    X = np.frombuffer(buf, dtype=np.float64, count=n * d, offset=off)
    return bid, (X.reshape(n, d), y, fold)


def _pack_fn(d: int, has_fold: bool, block_rows: int, K: int):
    """mapInArrow body: the sorted (features, label, batch[, fold]) rows
    of batches ``K*pid .. K*pid+K-1`` -> blocks of at most ``block_rows``
    rows of one batch each."""

    def pack(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        held: list[tuple] = []  # row runs of batch ``held_bid`` not yet emitted
        n_held, held_bid = 0, None

        def emit():
            nonlocal n_held
            y, fold, X = (
                None if held[0][i] is None else np.concatenate([h[i] for h in held])
                for i in range(3)
            )
            held.clear()
            n_held = 0
            return pa.RecordBatch.from_arrays(
                [pa.array([_block(held_bid, y, fold, X)], type=pa.binary())],
                names=["block"],
            )

        for rb in batches:
            if not rb.num_rows:
                continue
            label, bids = rb.column(1), rb.column(2).to_numpy()
            if label.null_count or (has_fold and rb.column(3).null_count):
                raise ValueError("label index and fold columns must not hold nulls")
            stray = bids // K != pid
            if stray.any():
                raise RuntimeError(
                    f"partition {pid} received rows of batch(es) "
                    f"{sorted(set(bids[stray].tolist()))}: Spark's hash "
                    "partitioning rule changed"
                )
            X = _dense(rb.column(0), d)
            y = label.to_numpy().astype(np.int64)
            fold = rb.column(3).to_numpy().astype(np.int64) if has_fold else None
            cuts = np.flatnonzero(np.diff(bids)) + 1
            for s, end in zip([0, *cuts], [*cuts, len(y)]):
                if held and bids[s] != held_bid:
                    yield emit()
                held_bid = int(bids[s])
                while s < end:
                    t = min(end, s + block_rows - n_held)
                    held.append((y[s:t], None if fold is None else fold[s:t], X[s:t]))
                    n_held += t - s
                    s = t
                    if n_held == block_rows:
                        yield emit()
        if held:
            yield emit()

    return pack


def _sum_blocks(fn: Callable, blocks: Iterator):
    """``fn(X, y, fold)`` over ``blocks``, summed in block order."""
    total = None
    for blk in blocks:
        part = fn(*blk)
        total = part if total is None else tuple(t + p for t, p in zip(total, part))
    return total


def _group_fn(d: int, has_fold: bool, grad_fn, update_fn, state, n_steps: int):
    """runJob body of one step group: one step per non-empty batch of the
    partition, in batch order, at most ``n_steps``. Yields ``(state,
    records, error)``: the state after the last step taken, one record per
    step and the message of the ``ValueError`` that stopped the group, if
    any."""

    def run(bufs: Iterator) -> Iterator:
        s, records, error = state, [], None
        blocks = (_unblock(buf, d, has_fold) for buf in bufs)
        for bid, batch in groupby(blocks, key=lambda b: b[0]):
            total = _sum_blocks(grad_fn(s), (blk for _, blk in batch))
            try:
                s, rec = update_fn(s, bid, total)
            except ValueError as e:
                error = str(e)
                break
            records.append(rec)
            if len(records) == n_steps:
                break
        # drain: a Python task that returns before reading all its input
        # makes pyspark drop its worker, and the next task forks a new one
        for _ in bufs:
            pass
        yield s, records, error

    return run


def _count(bufs: Iterator) -> Iterator:
    yield sum(1 for _ in bufs)


class BatchBlocks:
    """A training set laid out as cached numpy blocks, K consecutive
    mini-batches per partition.

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
        self.n_batches = n = int(n_batches)
        self.d = int(n_features)
        self.has_fold = fold_col is not None
        self.sc = df.sparkSession.sparkContext
        self.K = _group_size(n, self.sc.defaultParallelism)
        self.n_groups = -(-n // self.K)
        # partition g holds batches gK .. gK+K-1: batch b is sent under the
        # int key that Spark's hash puts in partition b // K
        keys = _partition_keys(self.n_groups)[np.arange(n) // self.K]
        key = F.element_at(
            F.expr(f"array({','.join(map(str, keys))})"),
            (F.col(batch_col) + 1).cast("int"),
        ).cast("int")
        block_rows = max(1, BLOCK_BYTES // (8 * (self.d + 2)))
        # rows whose batch id is null or out of range are never trained on;
        # the sort fixes each batch's row order (the canonical order)
        packed = (
            data.where(F.col(batch_col).between(0, n - 1))
            .repartition(self.n_groups, key)
            .sortWithinPartitions(batch_col, label_idx_col, *extra, features_col)
            .mapInArrow(
                _pack_fn(self.d, self.has_fold, block_rows, self.K), "block binary"
            )
        )
        # taking the RDD runs the shuffle's map stage now. The RDD is
        # cached, not the frame (adaptive execution would materialize a
        # cached frame in full)
        self._rdd = _binary_rdd(packed).persist(StorageLevel.MEMORY_AND_DISK)

    def train(
        self,
        grad_fn: Callable[[object], Callable],
        update_fn: Callable[[object, int, tuple], tuple],
        state,
        apply_fn: Callable[[object, list], None],
        *,
        max_steps: int,
        max_epochs: int,
        epoch_callback: Callable[[int], None] | None = None,
    ) -> None:
        """The mini-batch loop: batches in increasing id order, one step
        per non-empty batch, at most ``max_steps`` steps over at most
        ``max_epochs`` epochs, each group of K batches in one single-task
        job. On the executor, per step ``grad_fn(state)`` gives the
        per-block partial function and ``update_fn(state, bid, partial)``
        returns ``(state, record)``, or raises ``ValueError`` (before any
        change to the state) to stop. After every group ``apply_fn(state,
        records)`` runs on the driver, then a stopping ``ValueError`` is
        raised again there. ``epoch_callback(e)`` runs after each epoch.
        The cached blocks are released when the loop ends."""
        step = 0
        try:
            # the partitions the first steps read: packed in one parallel
            # job when there are several, else by the step task itself
            first = -(-min(max_steps, self.n_batches) // self.K)
            if first > 1:
                self.sc.runJob(self._rdd, _count, list(range(first)))
            for epoch in range(max_epochs):
                if step >= max_steps:
                    break
                for g in range(self.n_groups):
                    if step >= max_steps:
                        break
                    fn = _group_fn(
                        self.d, self.has_fold, grad_fn, update_fn, state,
                        max_steps - step,
                    )
                    state, records, error = self.sc.runJob(self._rdd, fn, [g])[0]
                    apply_fn(state, records)
                    if error is not None:
                        raise ValueError(error)
                    step += len(records)
                if epoch_callback is not None:
                    epoch_callback(epoch)
        finally:
            self.unpersist()

    def unpersist(self) -> None:
        self._rdd.unpersist()
