"""Fold-parallel cross-validated training: F leave-one-fold-out models
in one mini-batch data pass.

The reference evaluates its scorer with a single shuffled train/val
split (modlyn/models/_simple_logreg_model.py:88-103 validation hooks;
SURVEY.md B2). Proper K-fold CV means K models, and re-running the
trainer K times reads the table K times — at 10^12 rows the scans
dominate, so this module trains all F leave-one-fold-out models
SIMULTANEOUSLY. ``CVLogReg`` is the engine's one stacked trainer
(``scoring/logreg._SoftmaxStack``, also behind the regularization-path
sweep) with one model per fold and a per-model row mask instead of a
per-model regularizer:

- fold assignment is a pure salted-md5 column (deterministic, replicable
  in pandas/DuckDB, independent of the batch hash — a shared hash would
  correlate fold membership with batch membership and starve some
  (batch, fold) cells);
- per step, inside one single-task job per group of K steps over the
  group's batch blocks (the layout of scoring/blocks.py), ONE stacked
  GEMM computes all F models' logits; model f's gradient masks out its own fold's rows and is
  normalized by ITS visible row count, so model f's trajectory is exactly
  a standalone trainer run on ``fold != f`` with the same batch
  assignment (pytest pins allclose per fold against both the standalone
  engine and the numpy twin);
- out-of-fold prediction scores each row with the model that NEVER saw
  it — the leakage-free evaluation table (the north_rule's zero-leakage
  invariant, applied to model selection).

Empty cells: if some batch contains NO rows visible to model f, model f
skips that step: no Adam update, and its own step count does not advance,
so it continues exactly like a standalone run that never saw the batch.
The fused run still counts the step toward ``max_steps``, where a
standalone run would not, so a bounded-steps run can end one step earlier
for model f. At any realistic scale every (batch, fold-complement) cell is
non-empty; the trainer raises by default when one isn't
(``allow_empty_cells=True`` opts into the skip).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.scoring.logreg import _fold_range_error, _SoftmaxStack


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


class CVLogReg(_SoftmaxStack):
    """F leave-one-fold-out softmax regressions trained in one pass.

    Model f trains on ``fold_id != f``; defaults mirror the reference
    optimizer (lr=1e-2, wd=1e-2). ``W`` is (F, k, d), ``b`` (F, k),
    ``losses[f]`` model f's per-step mean batch loss."""

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
        self.F = int(n_folds)
        folds = {"fold": np.arange(self.F, dtype=np.int64)}
        super().__init__(n_features, classes, learning_rate, [weight_decay] * self.F, folds)

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
        """Train the F models; raises ``ValueError`` at the first step whose
        batch holds a fold id outside ``0..n_folds-1``, before its update."""
        return self._train(
            df, features_col=features_col, label_idx_col=label_idx_col, batch_col=batch_col,
            fold_col=fold_col, n_batches=n_batches, max_steps=max_steps,
            max_epochs=max_epochs, allow_empty_cells=allow_empty_cells,
        )

    # -- outputs (``weights_long``: (fold, label, pos, weight), inherited) ---

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
        weights in the closure. Raises ``ValueError`` (one job) if a fold
        id is null or outside ``0..n_folds-1``."""
        ok = F.coalesce(F.col(fold_col).between(0, self.F - 1), F.lit(False))
        if not df.where(~ok).isEmpty():
            raise ValueError(_fold_range_error(fold_col, self.F, "the frame"))
        return self._predict(df, features_col, out_col, fold_col)
