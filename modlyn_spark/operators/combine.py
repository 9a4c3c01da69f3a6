"""One reducer for every sufficient-statistics scan.

The engine's closed-form scores (PCA covariance, correlation, z-scoring,
drift and Mahalanobis moments, k-means and PQ centroid sums, ridge
``A'A``, mutual-information and PSI count tensors) are all sums, over
rows, of a few numpy arrays per Arrow batch. :func:`sum_partials` is the
one scan behind them: the caller supplies only the per-batch math
``fn(*cols)``, and the reducer

1. runs ONE ``mapInArrow`` pass in which each task decodes its Arrow
   batches (a list column becomes float64 ``(n, d)`` through
   ``blocks._dense`` with a null value read as NaN; any other column a
   numpy array), sums the tuples ``fn`` returns in batch order, and ships
   the sum as one binary row tagged with its partition id;
2. tree-combines the partials executor-side: level l groups rows by
   ``pid % _LEVELS[l]`` and folds each group in ascending pid order, so
   the driver collects at most ``_LEVELS[-1]`` rows however many
   partitions the scan had (a d=1024 moment partial is ~8 MB; a 100 TB
   scan at 128 MB splits has ~800k of them);
3. folds the surviving rows in pid order on the driver.

Rows never shuffle. Determinism: every fold runs in ascending pid order,
so the result does not depend on task scheduling; when the partition
count is at most every fanout (sf0.01 scans under local[32]), each group
holds one row, the combine is an exact identity, and the result is
bit-identical to a plain fold of the per-task partials in pid order.
"""

from __future__ import annotations

import pickle
from typing import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.scoring.blocks import _dense, _null_as_nan

# tree fanouts: the driver collects at most _LEVELS[-1] partials. Group
# width at the first level is ~P/_LEVELS[0] rows; raise it for large d
_LEVELS = (4096, 64)
_SCHEMA = "pid long, part binary"


def _add(total, part):
    if total is None:
        return part
    if any(np.shape(t) != np.shape(p) for t, p in zip(total, part)):
        raise ValueError(
            "partials differ in shape: every feature vector must hold the "
            "same number of values"
        )
    return tuple(t + p for t, p in zip(total, part))


def _row(pid: int, total):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([pid], pa.int64()), pa.array([pickle.dumps(total, 5)], pa.binary())],
        names=["pid", "part"],
    )


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
        from pyspark import TaskContext

        total = None
        for rb in batches:
            if rb.num_rows:
                total = _add(total, tuple(fn(*_columns(rb))))
        if total is not None:
            yield _row(TaskContext.get().partitionId(), total)

    return partials


def _fold(bufs):
    total = None
    for buf in bufs:
        total = _add(total, pickle.loads(buf))
    return total


def _combine(key, table):
    """One group of partials folded in ascending pid order, re-keyed by
    its group so the next level groups consistently."""
    import pyarrow as pa

    order = np.argsort(table.column("pid").to_numpy(), kind="stable")
    total = _fold(table.column("part").take(order).to_pylist())
    return pa.Table.from_batches([_row(int(key[0].as_py()), total)])


def sum_partials(df: DataFrame, fn: Callable):
    """Sum ``fn(*cols)`` over every non-empty Arrow batch of ``df``.

    ``fn`` receives one numpy array per column of ``df`` (list columns as
    float64 ``(n, d)``) and returns a tuple of addable numpy arrays or
    scalars; it is shipped to the executors, so it should close over
    O(model) state only. Returns the elementwise sum of those tuples,
    shapes and dtypes intact (int64 counts stay exact), or ``None`` when
    ``df`` has no rows.
    """
    out = df.mapInArrow(_map_fn(fn), _SCHEMA)
    for g in _LEVELS:
        out = out.groupBy(F.pmod("pid", F.lit(g))).applyInArrow(_combine, _SCHEMA)
    return _fold(r["part"] for r in sorted(out.collect(), key=lambda r: r["pid"]))
