"""Fold-parallel cross-validated training: F leave-one-fold-out models
in one mini-batch data pass.

The reference evaluates its scorer with a single shuffled train/val
split (modlyn/models/_simple_logreg_model.py:88-103 validation hooks;
SURVEY.md B2). Proper K-fold CV means K models, and re-running the
trainer K times reads the table K times — at 10^12 rows the scans
dominate, so this module trains all F leave-one-fold-out models
SIMULTANEOUSLY, the same fusion as the regularization-path sweep
(scoring/regpath.py), with a per-model row mask instead of a per-model
regularizer:

- fold assignment is a pure salted-md5 column (deterministic, replicable
  in pandas/DuckDB, independent of the batch hash — a shared hash would
  correlate fold membership with batch membership and starve some
  (batch, fold) cells);
- per step, in one single-task job over the step's batch block (the
  per-batch layout shared with the other trainers, scoring/blocks.py),
  ONE stacked GEMM computes all F models' logits; model f's
  gradient masks out its own fold's rows and normalizes by ITS visible
  row count, so model f's trajectory is exactly a standalone trainer run
  on ``fold != f`` with the same batch assignment (pytest pins allclose
  per fold against both the standalone engine and the numpy twin);
- out-of-fold prediction scores each row with the model that NEVER saw
  it — the leakage-free evaluation table (the north_rule's zero-leakage
  invariant, applied to model selection).

Parity caveat: if some batch contains NO rows visible to model f, the
fused trainer skips model f's Adam update for that step while a
standalone run would also skip its step-counter increment; trajectories
can then diverge late in a bounded-steps run. At any realistic scale
every (batch, fold-complement) cell is non-empty; the trainer raises by
default when one isn't (``allow_empty_cells=True`` opts into the
documented skip).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from modlyn_spark.oracle.pandas_oracle import AdamState
from modlyn_spark.scoring.blocks import BatchBlocks


def _cv_grad_sums(Wf: np.ndarray, bf: np.ndarray, nf: int, k: int):
    """Executor function of one step: a batch block with fold ids ->
    masked gradient sums of all nf leave-one-fold-out models, plus each
    model's visible row count."""

    def grad(X: np.ndarray, y: np.ndarray, folds: np.ndarray) -> tuple:
        m = len(X)
        logits = (X @ Wf.T + bf).reshape(m, nf, k)
        logits -= logits.max(axis=2, keepdims=True)
        e = np.exp(logits)
        p = e / e.sum(axis=2, keepdims=True)  # (m, nf, k)
        rows = np.arange(m)
        # visibility mask: row i contributes to model f iff fold_i != f
        vis = folds[:, None] != np.arange(nf)[None, :]  # (m, nf)
        loss_sum = (-np.log(np.clip(p[rows, :, y], 1e-30, None)) * vis).sum(axis=0)
        p[rows, :, y] -= 1.0
        p *= vis[:, :, None]
        return p.reshape(m, nf * k).T @ X, p.sum(axis=0), loss_sum, vis.sum(axis=0)

    return grad


def assign_folds(
    df: DataFrame, key_cols: list[str], n_folds: int, col: str = "fold_id"
) -> DataFrame:
    """Deterministic fold assignment: salted md5 of the key (salt '|cv'
    decorrelates it from assign_batches' unsalted hash), first 8 hex
    chars mod n_folds. Pure column expression, replicable in pandas and
    DuckDB bit-for-bit."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    bucket = F.conv(
        F.substring(F.md5(F.concat(key, F.lit("|cv"))), 1, 8), 16, 10
    ).cast("long")
    return df.withColumn(col, (bucket % n_folds).cast("int"))


def assign_folds_pandas(
    pdf: pd.DataFrame, key_cols: list[str], n_folds: int
) -> np.ndarray:
    """Pandas twin of assign_folds (oracle parity)."""
    import hashlib

    keys = pdf[key_cols[0]].astype(str)
    for c in key_cols[1:]:
        keys = keys + "|" + pdf[c].astype(str)
    return np.array(
        [
            int(hashlib.md5((k + "|cv").encode()).hexdigest()[:8], 16) % n_folds
            for k in keys
        ],
        dtype=np.int64,
    )


class CVLogReg:
    """F leave-one-fold-out softmax regressions trained in one pass.

    Model f trains on ``fold_id != f``; defaults mirror the reference
    optimizer (lr=1e-2, wd=1e-2)."""

    def __init__(
        self,
        n_features: int,
        classes: list,
        n_folds: int,
        learning_rate: float = 1e-2,
        weight_decay: float = 1e-2,
    ):
        if n_folds < 2:
            raise ValueError("n_folds must be >= 2")
        self.d = n_features
        self.classes = list(classes)
        self.k = len(self.classes)
        self.F = int(n_folds)
        self.W = np.zeros((self.F, self.k, self.d))
        self.b = np.zeros((self.F, self.k))
        self._optW = [
            AdamState((self.k, self.d), learning_rate, weight_decay)
            for _ in range(self.F)
        ]
        self._optb = [
            AdamState((self.k,), learning_rate, weight_decay)
            for _ in range(self.F)
        ]
        self.losses: list[list[float]] = [[] for _ in range(self.F)]

    def fit(
        self,
        df: DataFrame,
        *,
        features_col: str = "features",
        label_idx_col: str = "label_idx",
        batch_col: str = "batch_id",
        fold_col: str = "fold_id",
        n_batches: int | None = None,
        max_steps: int = 3000,
        max_epochs: int = 4,
        allow_empty_cells: bool = False,
    ) -> "CVLogReg":
        blocks = BatchBlocks(
            df,
            n_features=self.d,
            features_col=features_col,
            label_idx_col=label_idx_col,
            batch_col=batch_col,
            fold_col=fold_col,
            n_batches=n_batches,
        )
        k, d, nf = self.k, self.d, self.F

        def apply(bid: int, part: tuple) -> None:
            gW, gb, loss, n = part
            if (n == 0).any() and not allow_empty_cells:
                empty = np.nonzero(n == 0)[0].tolist()
                raise ValueError(
                    f"batch {bid} has no rows visible to fold model(s) "
                    f"{empty}; standalone-parity breaks — pass "
                    "allow_empty_cells=True to skip their update"
                )
            gW3 = gW.reshape(nf, k, d)
            for fi in range(nf):
                if n[fi] == 0:
                    continue  # documented skip under allow_empty_cells
                self.W[fi] = self._optW[fi].step(self.W[fi], gW3[fi] / n[fi])
                self.b[fi] = self._optb[fi].step(self.b[fi], gb[fi] / n[fi])
                self.losses[fi].append(float(loss[fi] / n[fi]))

        blocks.train(
            lambda: _cv_grad_sums(
                self.W.reshape(nf * k, d), self.b.reshape(nf * k), nf, k
            ),
            apply,
            max_steps=max_steps,
            max_epochs=max_epochs,
        )
        return self

    # -- outputs -------------------------------------------------------------

    def weights_long(self, spark) -> DataFrame:
        """Long-form (fold, label, pos, weight) across all F models."""
        rows = pd.DataFrame(
            {
                "fold": np.repeat(
                    np.arange(self.F, dtype=np.int64), self.k * self.d
                ),
                "label": np.tile(
                    np.repeat([str(c) for c in self.classes], self.d), self.F
                ),
                "pos": np.tile(np.arange(self.d, dtype=np.int64), self.F * self.k),
                "weight": self.W.ravel(),
            }
        )
        return spark.createDataFrame(rows)

    def oof_predict(
        self,
        df: DataFrame,
        *,
        features_col: str = "features",
        fold_col: str = "fold_id",
        out_col: str = "oof_pred_idx",
    ) -> DataFrame:
        """Out-of-fold prediction: each row is scored by the ONE model
        that never trained on it (model ``fold_id``) — the leakage-free
        evaluation table. Zero shuffle: one Arrow map with the stacked
        weights in the closure."""
        Wf = self.W.reshape(self.F * self.k, self.d)
        bf = self.b.reshape(self.F * self.k)
        fc, fdc = features_col, fold_col
        nf, k = self.F, self.k
        schema = StructType(
            df.schema.fields + [StructField(out_col, LongType(), False)]
        )

        def pred(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf[fc].to_numpy()).astype(np.float64)
                folds = pdf[fdc].to_numpy(dtype=np.int64)
                m = len(X)
                logits = (X @ Wf.T + bf).reshape(m, nf, k)
                own = logits[np.arange(m), folds, :]  # model fold_i per row
                pdf = pdf.copy()
                pdf[out_col] = np.argmax(own, axis=1)
                yield pdf

        return df.mapInPandas(pred, schema=schema)
