"""Executor-side tree combination of per-partition partial rows.

The shared collect path for the moment/GEMM reductions (PCA covariance,
k-means centroid sums; the logreg trainers need none — one partial per
step, scoring/blocks.py): a ``mapInPandas`` pass emits
ONE wide row per input partition (id ``pid`` + numeric scalars + dense
``array`` columns), and the driver needs their elementwise sum.

Collecting the raw partials does not survive scale: a d=1024 PCA partial
is d*(d+1) doubles ~ 8 MB, and a 100 TB input at 128 MB splits is ~800k
partitions — terabytes shipped to the driver. Instead the partials are
tree-combined executor-side: level l groups rows by ``pid % g_l`` and
sums each group with a vectorized applyInPandas combiner, so the driver
collects at most ``levels[-1]`` rows no matter how many partitions the
scan produced.

Determinism contract (the N-vs-4N invariant the fixture oracles pin):

- every group sums its member rows in ASCENDING ORIGINAL pid order
  (numpy pairwise summation over the pid-sorted stack — deterministic
  for a fixed member set), and the driver folds the surviving rows in
  pid order;
- when the partition count is <= every level's fanout (the correctness
  gate always is: sf0.01 scans under local[32] yield <= 32 partials),
  each group contains exactly one row and the combiner is an exact
  identity — the collected rows are BIT-IDENTICAL to a plain
  ``.collect()``, so the tree path can be always-on without perturbing
  any fixture-pinned float.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType


def _make_combiner(schema):
    array_cols = [
        f.name for f in schema.fields if isinstance(f.dataType, ArrayType)
    ]
    scalar_cols = [
        f.name
        for f in schema.fields
        if f.name != "pid" and not isinstance(f.dataType, ArrayType)
    ]

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 1:
            # exact identity (no float re-summation) for the common
            # small-P case — but the pid must become the group key so the
            # next level groups consistently
            row = pdf.iloc[[0]][["pid", *scalar_cols, *array_cols]].copy()
            row["pid"] = int(key[0])
            return row
        pdf = pdf.sort_values("pid", kind="mergesort")
        out = {"pid": [int(key[0])]}
        for c in scalar_cols:
            out[c] = [pdf[c].sum()]
        for c in array_cols:
            out[c] = [np.sum(np.stack(pdf[c].to_numpy()), axis=0).tolist()]
        return pd.DataFrame(out)

    return combine


def collect_partials(
    partial_df: DataFrame, *, levels: tuple[int, ...] = (4096, 64)
) -> list:
    """Collect partial rows (schema: ``pid`` + summable columns),
    tree-combining executor-side so the driver receives at most
    ``levels[-1]`` rows. Numeric scalar columns sum; ``array`` columns
    sum elementwise (dtype preserved: long arrays stay long).

    Returns the rows sorted by pid — drop-in for
    ``sorted(df.collect(), key=pid)``, and bit-identical to it whenever
    the input partition count is below every level fanout (see module
    docstring). Group width at the first level is ~P/levels[0] rows; at
    d=1024 partials (~8 MB/row) and 800k partitions that is ~200 rows
    (~1.6 GB) per combiner task — raise ``levels[0]`` for larger d.
    """
    schema = partial_df.schema
    if "pid" not in schema.names:
        raise ValueError("partial_df must carry a 'pid' column")
    combine = _make_combiner(schema)
    out = partial_df
    for g in levels:
        out = (
            out.withColumn("__g", F.pmod(F.col("pid"), F.lit(int(g))))
            .groupBy("__g")
            .applyInPandas(combine, schema=schema)
        )
    return sorted(out.collect(), key=lambda r: r["pid"])
