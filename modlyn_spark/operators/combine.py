"""One reducer for every sufficient-statistics scan.

The engine's closed-form scores (per-class moments behind the
F-statistic, PCA covariance, correlation, z-scoring, drift and Mahalanobis
moments, k-means and PQ centroid sums, ridge ``A'A``, mutual-information
and PSI count tensors) are all sums, over rows, of a few numpy arrays per
Arrow batch. :func:`sum_partials` is the one scan behind them: the caller
supplies only the per-batch math ``fn(*cols)``, and the reducer

1. runs ONE ``mapInArrow`` pass in which each task decodes its Arrow
   batches (a list column becomes float64 ``(n, d)`` through
   ``blocks._dense`` with a null value read as NaN; any other column a
   numpy array), sums the partials ``fn`` returns in batch order, and
   ships the sum as one binary row prefixed with its partition id. The
   pass is planned once as a JVM RDD of raw bytes, and every step below
   runs in the one job of that RDD;
2. when the pass has P <= ``_FANOUT`` partitions, collects the P rows
   (no shuffle); otherwise a JVM ``repartition(ceil(P / _FANOUT))`` of
   the rows groups them, one Python pass per group folds its rows in
   ascending pid order, and this repeats until at most ``_FANOUT`` rows
   remain (a d=1024 moment partial is ~8 MB; a 100 TB scan at 128 MB
   splits has ~800k of them, three levels);
3. folds the collected rows in pid order on the driver.

A partial is a tuple of addable numpy arrays or scalars, or a dict of such
tuples: dicts add by key, and a task may hold any subset of the keys.

Rows never shuffle. Determinism: every fold runs in ascending pid order
and the JVM's round-robin groups depend on P only, so the result does not
depend on task scheduling; at P <= ``_FANOUT`` it is bit-identical to a
plain fold of the per-task partials in pid order.
"""

from __future__ import annotations

import pickle
from typing import Callable, Iterator

import numpy as np
from pyspark.rdd import RDD
from pyspark.sql import DataFrame

from modlyn_spark.scoring.blocks import _binary_rdd, _dense, _null_as_nan

# the most partials the driver folds; a tree level cuts P partials into
# ceil(P / _FANOUT) groups (round-robin, so ~_FANOUT per group)
_FANOUT = 64


def _add(total, part):
    if total is None:
        return part
    if isinstance(part, dict):
        total = dict(total)
        for key, p in part.items():
            total[key] = _add(total.get(key), p)
        return total
    if any(np.shape(t) != np.shape(p) for t, p in zip(total, part)):
        raise ValueError(
            "partials differ in shape: every feature vector must hold the "
            "same number of values"
        )
    return tuple(t + p for t, p in zip(total, part))


def _partial(part):
    """``fn``'s return value as a tuple, or a dict of tuples."""
    if isinstance(part, dict):
        return {key: tuple(p) for key, p in part.items()}
    return tuple(part)


def _pack(pid: bytes, total) -> bytes:
    """A partial as one buffer: 8-byte big-endian pid, then the pickle;
    buffers sort in pid order."""
    return pid + pickle.dumps(total, 5)


def _columns(rb) -> list:
    """The batch's columns as numpy: list columns float64 (n, d)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    for col in rb.columns:
        if pa.types.is_list(col.type):
            d = pc.list_value_length(col)[0].as_py() or 0
            cols.append(_dense(_null_as_nan(col), d))
        else:
            cols.append(col.to_numpy(zero_copy_only=False))
    return cols


def _map_fn(fn: Callable):
    def partials(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        total = None
        for rb in batches:
            if rb.num_rows:
                total = _add(total, _partial(fn(*_columns(rb))))
        if total is not None:
            pid = TaskContext.get().partitionId().to_bytes(8, "big")
            yield pa.RecordBatch.from_arrays(
                [pa.array([_pack(pid, total)], pa.binary())], names=["part"]
            )

    return partials


def _fold(bufs):
    """(smallest pid, sum) of packed partials, folded in ascending pid
    order; ``(None, None)`` when there are none."""
    pid = total = None
    for buf in sorted(bufs):
        if pid is None:
            pid = buf[:8]
        total = _add(total, pickle.loads(memoryview(buf)[8:]))
    return pid, total


def _fold_group(bufs: Iterator) -> Iterator:
    """One tree group's partials folded into one, packed under its
    smallest pid so the next level still folds in pid order."""
    pid, total = _fold(bufs)
    if total is not None:
        yield _pack(pid, total)


def sum_partials(df: DataFrame, fn: Callable):
    """Sum ``fn(*cols)`` over every non-empty Arrow batch of ``df``.

    ``fn`` receives one numpy array per column of ``df`` (list columns as
    float64 ``(n, d)``) and returns a tuple of addable numpy arrays or
    scalars, or a dict of such tuples; it is shipped to the executors, so
    it should close over O(model) state only. Returns the elementwise sum
    of those tuples (of each key's tuples for dicts), shapes and dtypes
    intact (int64 counts stay exact), or ``None`` when ``df`` has no rows.
    """
    rdd = _binary_rdd(df.mapInArrow(_map_fn(fn), "part binary"))
    while rdd.getNumPartitions() > _FANOUT:
        groups = rdd._jrdd.repartition(-(-rdd.getNumPartitions() // _FANOUT))
        rdd = RDD(groups, rdd.ctx, rdd._jrdd_deserializer).mapPartitions(_fold_group)
    return _fold(rdd.collect())[1]
