"""Regularization-path sweep for the reference scoring loop.

modlyn's feature-selection recipe trains ONE logistic regression at one
weight_decay and reads feature scores off the weight matrix
(reference: modlyn/models/_simple_logreg_model.py:35-38 — lr/wd are fixed
ctor args, so sweeping the regularizer means re-running fit() once per
value and re-reading the full dataset each time). At 10^12-row scale the
data pass dominates, so the sweep must amortize it: this module trains L
weight-decay values SIMULTANEOUSLY over the same mini-batch stream.

``RegPathLogReg`` is the engine's one stacked trainer
(``scoring/logreg._SoftmaxStack``) with one model per weight decay:

- each group of K consecutive steps is one Spark job of one task over
  the group's batch blocks (``scoring/blocks.py``); per step the task
  computes all L models' logits with ONE GEMM per block and all their
  gradient blocks with a second — the marginal cost of an extra lambda is
  FLOPs on data already in cache, not another scan of the table;
- the vectorized Adam, run in that task, keeps one weight decay per
  model (folded into the update, torch parity), so lambda l's trajectory
  is numerically the SAME sequence of updates a standalone
  ``DistributedLogReg(weight_decay=lambda_l)`` would produce — the sweep
  is a fusion, not an approximation. Tests pin allclose equality per
  lambda against both the standalone trainer and the independent numpy
  twin.

Scale notes: driver<->executor traffic per step group is O(L*k*d) — the
model stack and its Adam moments, independent of data size; with the
reference's 5k x 50 score matrix and L=8 that is ~50 MB per K steps.
The data passes once per epoch regardless of L; a naive per-lambda loop
costs L full passes. Selection-path summaries (features surviving at
each lambda) are pure column expressions over the long-form output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.scoring.logreg import _SoftmaxStack


class RegPathLogReg(_SoftmaxStack):
    """Mini-batch softmax regression at L weight-decay values in one pass.

    Same defaults as the reference optimizer (lr=1e-2,
    modlyn/models/_simple_logreg_model.py:105-108); ``lambdas`` sweeps the
    weight_decay axis the reference hard-codes at 1e-2. ``W`` is (L, k, d),
    ``b`` (L, k) and ``losses[l]`` the per-step mean batch loss for lambda l.
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
        self.lambdas = [float(x) for x in lambdas]
        self.L = len(self.lambdas)
        super().__init__(
            n_features, classes, learning_rate, self.lambdas, {"lam": self.lambdas}
        )

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
        DataFrame: one single-task job per group of K steps computes, per
        step, every model's gradient from a single traversal of the step's
        batch blocks.

        Batch layout, batch order and step accounting are
        DistributedLogReg.fit's (the same stacked trainer), so per-lambda
        results are allclose to L standalone fits at the same config.
        """
        return self._train(
            df, features_col=features_col, label_idx_col=label_idx_col, batch_col=batch_col,
            n_batches=n_batches, max_steps=max_steps, max_epochs=max_epochs,
        )

    # -- outputs (``weights_long``: (lam, label, pos, weight), inherited) ----

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
