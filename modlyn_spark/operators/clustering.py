"""Distributed k-means over embedding columns (Lloyd's algorithm).

The curation primitive LLM-data pipelines use for topic balancing,
cluster-based sampling, and semantic dedup at corpus scale. Same
physical pattern as the other sufficient-statistics scans:

- centroids live on the driver (k x dim — tiny) and broadcast each
  round inside the UDF closure;
- one pass per round through ``operators/combine.sum_partials`` (the
  engine's one reducer) sums the per-cluster (count, vector sum,
  inertia) with a single (batch x dim) @ (dim x k) GEMM per Arrow batch
  — rows never shuffle, only k x (dim + 2) numbers per task come back,
  folded in ascending-pid order (executor-side tree levels above 64
  partitions), so results are
  deterministic at ANY parallelism — the same N-vs-4N invariant the
  logreg trainer guarantees;
- iteration stops when assignments imply unchanged centroids (movement
  below ``tol``) or at ``max_iter``.

Initialization is a seeded sample from the ``sample`` rows with the
smallest md5(id) (like the IVF index build) — deterministic under any
partitioning, unbiased under any storage order, and replicable by the
numpy oracle (oracle_kmeans) for the fixture-backed correctness gate.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from modlyn_spark.operators.combine import sum_partials


def _init_centroids(
    df: DataFrame, vec_col: str, k: int, sample: int, seed: int,
    id_col: str | None = None,
) -> np.ndarray:
    """Seeded centroid init from a bounded sample.

    With ``id_col`` (recommended): the pool is the ``sample`` rows with the
    smallest md5(id) — a deterministic shuffle that is UNBIASED under any
    storage order and stable under any split/partitioning (plans as
    TakeOrderedAndProject: per-partition top-n, no full sort). Without it,
    falls back to limit(), which on a partitioned table returns one file's
    prefix — order-dependent AND biased on clustered storage (e.g. a
    label-sorted table seeds every centroid from one class).
    """
    sel = df.select(vec_col)
    if id_col is not None:
        sel = (
            df.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
            .limit(sample)
            .select(vec_col)
        )
    else:
        sel = sel.limit(sample)
    X = np.asarray([r[0] for r in sel.collect()], dtype=np.float64)
    if len(X) == 0:
        raise ValueError(
            f"no rows to initialize centroids from ({vec_col!r} empty input?)"
        )
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(X), size=min(k, len(X)), replace=False)
    return X[idx].copy()


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    *,
    max_iter: int = 10,
    sample: int = 4096,
    seed: int = 42,
    tol: float = 1e-6,
    id_col: str | None = None,
) -> tuple[np.ndarray, list[float]]:
    """Fit k-means; returns (centroids (k, dim), inertia history).

    Pass ``id_col`` so the init sample is unbiased under any storage
    order (see _init_centroids); the numpy twin (oracle_kmeans) mirrors
    the same md5-ordered pool when given ids."""
    # with fewer init rows than k, the fit proceeds with the smaller k
    # (matches the oracle twin's behavior)
    C = _init_centroids(df, vec_col, k, sample, seed, id_col=id_col)
    dim = C.shape[1]
    data = df.select(vec_col).cache()
    history: list[float] = []

    for _ in range(max_iter):
        c_sq = (C * C).sum(axis=1)

        def assign(X):
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
            d = -2.0 * (X @ C.T) + c_sq[None, :]
            a = d.argmin(axis=1)
            sums = np.zeros((len(C), dim), dtype=np.float64)
            np.add.at(sums, a, X)
            inertia = float((d[np.arange(len(X)), a] + (X * X).sum(axis=1)).sum())
            return np.bincount(a, minlength=len(C)), sums, inertia

        counts, sums, inertia = sum_partials(data, assign)
        history.append(inertia)
        newC = C.copy()
        nz = counts > 0
        newC[nz] = sums[nz] / counts[nz, None]
        move = float(np.abs(newC - C).max())
        C = newC
        if move <= tol:
            break
    data.unpersist()
    return C, history


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    *,
    out_col: str = "cluster",
    dist_col: str | None = "sq_dist",
) -> DataFrame:
    """Assign every row to its nearest centroid (one GEMM per Arrow
    batch). Appends ``out_col`` (int) and optionally ``dist_col``
    (squared euclidean distance, double)."""
    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    fields = df.schema.fields + [StructField(out_col, IntegerType())]
    if dist_col:
        fields = fields + [StructField(dist_col, DoubleType())]
    schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = -2.0 * (X @ C.T) + c_sq[None, :]
            a = d.argmin(axis=1)
            out = pdf.copy()
            out[out_col] = a.astype(np.int32)
            if dist_col:
                out[dist_col] = d[np.arange(len(X)), a] + (X * X).sum(axis=1)
            yield out

    return df.mapInPandas(run, schema=schema)
