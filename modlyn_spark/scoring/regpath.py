"""Regularization-path sweep for the reference scoring loop.

modlyn's feature-selection recipe trains ONE logistic regression at one
weight_decay and reads feature scores off the weight matrix
(reference: modlyn/models/_simple_logreg_model.py:35-38 — lr/wd are fixed
ctor args, so sweeping the regularizer means re-running fit() once per
value and re-reading the full dataset each time). At 10^12-row scale the
data pass dominates, so the sweep must amortize it: this module trains L
weight-decay values SIMULTANEOUSLY over the same mini-batch stream.

Physical design (one Spark job of one task per step, like
DistributedLogReg, over the same per-batch block layout,
``scoring/blocks.py``):

- the L models' weights stack into one (L*k, d) matrix; the step's task
  computes logits for ALL models with ONE GEMM ``X @ W_all.T`` per
  block of the batch, and all L gradient blocks with ONE GEMM ``P_all.T @ X`` —
  the marginal cost of an extra lambda is FLOPs on data already in
  cache, not another scan of the table;
- the step's one partial (L*k*d gradient, L*k bias gradient, L losses)
  comes back to the driver as numpy arrays;
- the driver keeps L independent Adam states (weight decay folds into
  the update there, torch parity), so lambda l's trajectory is
  numerically the SAME sequence of updates a standalone
  ``DistributedLogReg(weight_decay=lambda_l)`` would produce — the sweep
  is a fusion, not an approximation. Tests pin allclose equality per
  lambda against both the standalone trainer and the independent numpy
  twin.

Scale notes: driver<->executor traffic per step is O(L*k*d) — the model
stack, independent of data size; with the reference's 5k x 50 score
matrix and L=8 that is ~16 MB per step, well under broadcast budgets.
The data passes once per epoch regardless of L; a naive per-lambda loop
costs L full passes. Selection-path summaries (features surviving at
each lambda) are pure column expressions over the long-form output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.oracle.pandas_oracle import AdamState
from modlyn_spark.scoring.blocks import BatchBlocks


def _path_grad_sums(Wf: np.ndarray, bf: np.ndarray, L: int, k: int):
    """Executor function of one step: a batch block -> gradient sums of
    all L models from one traversal of the block, given the (L*k, d)
    weight stack ``Wf`` and (L*k,) bias stack ``bf``."""

    def grad(X: np.ndarray, y: np.ndarray, _fold) -> tuple:
        m = len(X)
        # ONE GEMM for all L models: (m, L*k)
        logits = (X @ Wf.T + bf).reshape(m, L, k)
        logits -= logits.max(axis=2, keepdims=True)
        e = np.exp(logits)
        p = e / e.sum(axis=2, keepdims=True)  # (m, L, k)
        rows = np.arange(m)
        # advanced indices split by a slice -> (m, L): the true-class
        # probability per row per lambda
        loss_sum = -np.log(np.clip(p[rows, :, y], 1e-30, None)).sum(axis=0)
        p[rows, :, y] -= 1.0
        # ONE GEMM for all L gradient blocks: (L*k, d)
        return p.reshape(m, L * k).T @ X, p.sum(axis=0), loss_sum, m

    return grad


class RegPathLogReg:
    """Mini-batch softmax regression at L weight-decay values in one pass.

    Same defaults as the reference optimizer (lr=1e-2,
    modlyn/models/_simple_logreg_model.py:105-108); ``lambdas`` sweeps the
    weight_decay axis the reference hard-codes at 1e-2.
    """

    def __init__(
        self,
        n_features: int,
        classes: list,
        lambdas: list[float],
        learning_rate: float = 1e-2,
    ):
        if not lambdas:
            raise ValueError("lambdas must be non-empty")
        self.d = n_features
        self.classes = list(classes)
        self.k = len(self.classes)
        self.lambdas = [float(x) for x in lambdas]
        self.L = len(self.lambdas)
        self.W = np.zeros((self.L, self.k, self.d))
        self.b = np.zeros((self.L, self.k))
        self._optW = [
            AdamState((self.k, self.d), learning_rate, lam) for lam in self.lambdas
        ]
        self._optb = [
            AdamState((self.k,), learning_rate, lam) for lam in self.lambdas
        ]
        # losses[l] = per-step mean batch loss for lambda l
        self.losses: list[list[float]] = [[] for _ in range(self.L)]

    def fit(
        self,
        df: DataFrame,
        *,
        features_col: str = "features",
        label_idx_col: str = "label_idx",
        batch_col: str = "batch_id",
        n_batches: int | None = None,
        max_steps: int = 3000,
        max_epochs: int = 4,
    ) -> "RegPathLogReg":
        """Train all L models over a (features, label_idx, batch_id)
        DataFrame: one single-task job per step computes every model's
        gradient from a single traversal of the step's batch block.

        Batch layout, batch order and step accounting are
        DistributedLogReg.fit's (the shared ``BatchBlocks``), so
        per-lambda results are allclose to L standalone fits at the same
        config.
        """
        blocks = BatchBlocks(
            df,
            n_features=self.d,
            features_col=features_col,
            label_idx_col=label_idx_col,
            batch_col=batch_col,
            n_batches=n_batches,
        )
        k, d, L = self.k, self.d, self.L

        def apply(_bid: int, part: tuple) -> None:
            gW, gb, loss_sum, n = part
            gW3 = (gW / n).reshape(L, k, d)
            gb = gb / n
            for li in range(L):
                self.W[li] = self._optW[li].step(self.W[li], gW3[li])
                self.b[li] = self._optb[li].step(self.b[li], gb[li])
                self.losses[li].append(float(loss_sum[li] / n))

        blocks.train(
            lambda: _path_grad_sums(
                self.W.reshape(L * k, d), self.b.reshape(L * k), L, k
            ),
            apply,
            max_steps=max_steps,
            max_epochs=max_epochs,
        )
        return self

    # -- outputs -------------------------------------------------------------

    def weights_long(self, spark) -> DataFrame:
        """Long-form (lam, label, pos, weight) across the whole path."""
        rows = pd.DataFrame(
            {
                "lam": np.repeat(self.lambdas, self.k * self.d),
                "label": np.tile(
                    np.repeat([str(c) for c in self.classes], self.d), self.L
                ),
                "pos": np.tile(np.arange(self.d, dtype=np.int64), self.L * self.k),
                "weight": self.W.ravel(),
            }
        )
        return spark.createDataFrame(rows)

    def selection_path(self, spark, threshold: float) -> DataFrame:
        """Per (lam, pos): max |weight| over classes + survives flag —
        the feature-entry/exit table a selection consumer reads off the
        path. Pure aggregation over weights_long (SQL-expressible)."""
        w = self.weights_long(spark)
        return (
            w.groupBy("lam", "pos")
            .agg(F.max(F.abs(F.col("weight"))).alias("max_abs_w"))
            .withColumn(
                "selected", (F.col("max_abs_w") >= F.lit(float(threshold)))
            )
        )
