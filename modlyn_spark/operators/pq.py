"""Product quantization (PQ) — the memory-scale path for ANN over
10^12-row embedding tables.

Brute/LSH/IVF search (operators/similarity.py) still materializes the
full float vectors on the corpus side; at 10^12 x 64 float32 that is
~256 TB of state per scan. PQ (Jegou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011) compresses each
vector to ``m`` one-byte codes (64x smaller at m=8) and answers queries
with asymmetric distance computation (ADC): a per-probe lookup table of
subspace distances built ONCE on the driver, then each corpus row costs
``m`` table gathers instead of a ``dim``-length float dot product.

Physical design (all the audited house patterns):

- **train** — one Lloyd's loop fits ALL ``m`` subspace codebooks
  simultaneously: per Arrow batch, reshape (n, dim) -> (n, m, dsub),
  one GEMM per subspace against its codebook; the (count, sum) per
  (subspace, code) are summed by ``operators/combine.sum_partials``,
  the reducer ``clustering.kmeans_fit`` also runs. Rows never shuffle. Init is the shared
  md5-ordered sample pool (deterministic under any partitioning,
  unbiased under any storage order).
- **encode** — one ``mapInPandas`` pass appending an
  ``array<int>`` code column; the downstream table carries m small ints
  per row instead of the vector (the vector column can be dropped).
- **search (ADC)** — probe side is query-sized by contract (same as
  ``hamming_topk``): probe vectors collect to the driver, the
  (probes, m, k) distance lookup tensor ships in the UDF closure, and
  each partition emits only its per-probe top-k PARTIAL winners
  (<= probes * k rows per partition — a global top-k member is
  necessarily a partition top-k member), so the final window shuffles
  candidates, never the corpus.

Determinism / oracle contract: distances are float64; ranking and the
partial-top-k selection both order by (round(dist, 6), id) so the
DuckDB oracle — the SAME codebook table joined and summed in SQL —
ranks identically despite float association differences (~1e-14 vs the
0.5e-6 rounding grid).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from modlyn_spark.operators.combine import sum_partials


def _split(dim: int, m: int) -> int:
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    return dim // m


def pq_train(
    df: DataFrame,
    vec_col: str,
    *,
    m: int = 8,
    codebook_size: int = 16,
    max_iter: int = 10,
    sample: int = 4096,
    seed: int = 42,
    tol: float = 1e-6,
    id_col: str | None = None,
) -> tuple[np.ndarray, list[float]]:
    """Fit the m per-subspace codebooks; returns (codebooks
    (m, codebook_size, dim//m), total-inertia history).

    One distributed Lloyd's iteration trains every subspace at once —
    the per-round cost is identical to a single k-means E/M step, not m
    of them. Init: each subspace's codebook seeds from the SAME
    md5-ordered sample pool (``clustering._init_centroids`` semantics),
    sliced to its own coordinates, with per-subspace rng draws."""
    k = int(codebook_size)
    # deterministic init pool: the ``sample`` rows with the smallest
    # md5(id) (clustering._init_centroids semantics — unbiased under any
    # storage order, stable under any partitioning); falls back to
    # limit() without an id column
    # NULL vectors are excluded from training (the Lloyd's pass below
    # filters them) — exclude them from the init pool too, or a NULL in
    # the first ``sample`` rows makes np.asarray build a ragged object
    # array and pool.shape[1] fails opaquely
    nn = df.where(F.col(vec_col).isNotNull())
    if id_col is not None:
        sel = (
            nn.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
            .limit(sample)
            .select(vec_col)
        )
    else:
        sel = nn.select(vec_col).limit(sample)
    pool = np.asarray([r[0] for r in sel.collect()], dtype=np.float64)
    if len(pool) == 0:
        raise ValueError(
            f"no rows to initialize codebooks from ({vec_col!r} empty input?)"
        )
    dim = pool.shape[1]
    dsub = _split(dim, m)
    rng = np.random.default_rng(seed)
    k = min(k, len(pool))
    C = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        idx = rng.choice(len(pool), size=k, replace=False)
        C[j] = pool[idx, j * dsub : (j + 1) * dsub]

    data = df.select(vec_col).where(F.col(vec_col).isNotNull()).cache()
    history: list[float] = []
    for _ in range(max_iter):
        c_sq = (C * C).sum(axis=2)  # (m, k)

        def assign(X):
            Xs = X.reshape(len(X), m, dsub)
            counts = np.zeros((m, k), dtype=np.int64)
            sums = np.zeros((m, k, dsub), dtype=np.float64)
            inertia = 0.0
            for j in range(m):
                d = -2.0 * (Xs[:, j] @ C[j].T) + c_sq[j][None, :]
                a = d.argmin(axis=1)
                inertia += float(
                    (d[np.arange(len(X)), a] + (Xs[:, j] * Xs[:, j]).sum(axis=1)).sum()
                )
                counts[j] = np.bincount(a, minlength=k)
                np.add.at(sums[j], a, Xs[:, j])
            return counts, sums, inertia

        counts, sums, inertia = sum_partials(data, assign)
        history.append(inertia)
        newC = C.copy()
        nz = counts > 0
        newC[nz] = sums[nz] / counts[nz][:, None]
        move = float(np.abs(newC - C).max())
        C = newC
        if move <= tol:
            break
    data.unpersist()
    return C, history


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: np.ndarray,
    *,
    out_col: str = "pq_code",
) -> DataFrame:
    """Append ``out_col``: array<int> of length m — each subvector's
    nearest codebook entry (one GEMM per subspace per Arrow batch).
    NULL vectors get a NULL code. Ties break to the LOWEST code index
    (numpy argmin), matching the SQL oracle's (dist, code) ordering."""
    C = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, dsub = C.shape
    c_sq = (C * C).sum(axis=2)
    fields = df.schema.fields + [
        StructField(out_col, ArrayType(IntegerType()))
    ]
    schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            ok = pdf[vec_col].notna().to_numpy()
            codes = np.full((len(pdf), m), -1, dtype=np.int32)
            if ok.any():
                X = np.stack(pdf[vec_col].to_numpy()[ok]).astype(np.float64)
                Xs = X.reshape(len(X), m, dsub)
                for j in range(m):
                    d = -2.0 * (Xs[:, j] @ C[j].T) + c_sq[j][None, :]
                    codes[ok, j] = d.argmin(axis=1).astype(np.int32)
            out[out_col] = [
                codes[i].tolist() if ok[i] else None
                for i in range(len(pdf))
            ]
            yield out

    return df.mapInPandas(run, schema=schema)


def pq_topk(
    corpus: DataFrame,
    probes: list[tuple],
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-encoded corpus.

    ``probes``: query-sized list of (probe_id, vector) — the per-probe
    (m, codebook_size) subspace-distance lookup tensor is built here and
    ships in the closure (probes * m * k doubles; at 1k probes, m=16,
    k=256 that is ~32 MB — broadcast-sized by construction, same
    contract as ``hamming_topk``'s broadcast probe side).

    Each partition emits only its per-probe top-k partial winners, so
    the shuffle is <= partitions * probes * k rows no matter the corpus
    size. Output: (probe_id, corpus_id, dist, rank), dist =
    round(ADC approximate squared L2, ``round_digits``), ranked
    (dist ASC, corpus_id ASC)."""
    if len(probes) > 100_000:
        raise ValueError(
            f"pq_topk got {len(probes)} probes: the per-probe LUT tensor "
            "ships in the task closure, so the probe side must stay "
            "query-sized (<= 100k). Batch the probes, or index them as a "
            "second corpus and use a bucketed join (hash_hamming_pairs / "
            "embedding near-dup) for the corpus-x-corpus shape."
        )
    C = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, kcent, dsub = C.shape
    pids = np.asarray([p[0] for p in probes], dtype=np.int64)
    Q = np.stack([np.asarray(p[1], dtype=np.float64) for p in probes])
    if Q.shape[1] != m * dsub:
        raise ValueError(
            f"probe dim {Q.shape[1]} != codebook dim {m * dsub}"
        )
    Qs = Q.reshape(len(Q), m, dsub)
    # LUT[p, j, c] = ||q_p[j] - C[j, c]||^2
    lut = ((Qs[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)
    n_probe = len(pids)
    kk = int(k)

    out_schema = StructType(
        [
            StructField("probe_id", LongType()),
            StructField("corpus_id", LongType()),
            StructField("dist", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition partial top-k accumulators
        best_d = np.full((n_probe, 0), np.inf)
        best_i = np.full((n_probe, 0), -1, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            ok = pdf[code_col].notna().to_numpy()
            if not ok.any():
                continue
            codes = np.stack(pdf[code_col].to_numpy()[ok]).astype(np.int64)
            ids = pdf[id_col].to_numpy()[ok].astype(np.int64)
            # dist[p, r] = sum_j LUT[p, j, codes[r, j]]: the two index
            # arrays broadcast to (n, m), the leading probe axis slices
            d = lut[:, np.arange(m)[None, :], codes].sum(axis=2)
            d = np.round(d, round_digits)
            cat_d = np.concatenate([best_d, d], axis=1)
            cat_i = np.concatenate(
                [best_i, np.broadcast_to(ids, (n_probe, len(ids)))], axis=1
            )
            if cat_d.shape[1] > kk:
                # ordering contract: (rounded dist ASC, id ASC)
                order = np.lexsort((cat_i, cat_d), axis=-1)[:, :kk]
                best_d = np.take_along_axis(cat_d, order, axis=1)
                best_i = np.take_along_axis(cat_i, order, axis=1)
            else:
                best_d, best_i = cat_d, cat_i
        n = best_d.shape[1]
        if n:
            yield pd.DataFrame(
                {
                    "probe_id": np.repeat(pids, n),
                    "corpus_id": best_i.ravel(),
                    "dist": best_d.ravel(),
                }
            )

    cand = corpus.select(id_col, code_col).mapInPandas(
        run, schema=out_schema
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist").asc(), F.col("corpus_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(
            "probe_id",
            "corpus_id",
            "dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def codebooks_to_df(codebooks: np.ndarray) -> pd.DataFrame:
    """Flatten a (m, k, dsub) codebook tensor to the long-form
    (subspace, code, centroid) table used by the parquet artifact and
    the DuckDB oracle."""
    C = np.asarray(codebooks, dtype=np.float64)
    m, k, _ = C.shape
    return pd.DataFrame(
        {
            "subspace": np.repeat(np.arange(m), k).astype(np.int64),
            "code": np.tile(np.arange(k), m).astype(np.int64),
            "centroid": [C[j, c].tolist() for j in range(m) for c in range(k)],
        }
    )


def df_to_codebooks(pdf: pd.DataFrame) -> np.ndarray:
    """Inverse of :func:`codebooks_to_df`."""
    m = int(pdf["subspace"].max()) + 1
    k = int(pdf["code"].max()) + 1
    dsub = len(pdf["centroid"].iloc[0])
    C = np.empty((m, k, dsub), dtype=np.float64)
    for r in pdf.itertuples(index=False):
        C[int(r.subspace), int(r.code)] = np.asarray(r.centroid, float)
    return C
