"""Distributed mini-batch logistic regression — the reference scoring loop.

Reproduces modlyn's SimpleLogReg inner loop (reference:
modlyn/models/_simple_logreg_model.py:70-83 training_step,
:105-108 Adam(lr, weight_decay)) over a Spark DataFrame:

- the training table is laid out once as cached numpy blocks, one
  partition per deterministic mini-batch (``scoring/blocks.py``: one JVM
  shuffle and sort, one Arrow pack per batch, blocks of at most 32 MB);
- each step ships the current (W, b) to the ONE task holding the step's
  batch, which computes the gradient sums of each block with numpy GEMMs
  (the M1 forward pass) in float64 and returns their sum in block order —
  one Spark job of one task per step;
- the Adam update (torch parity: L2 weight decay folded into the gradient,
  bias-corrected moments) runs on the driver — the model (k x d) is tiny next
  to the data, the classic parameter-server-on-driver layout.

Determinism: batch composition is a pure function of the row key
(md5-derived, replicable in pandas/DuckDB), each batch's rows are packed in
a canonical order and each step has exactly one partial, so two runs at
different parallelism produce bit-identical weights (the N-vs-4N-cluster
invariant).

Scale notes: a step reads only its own batch's cached blocks; the other
partitions of the cache are not touched. Weights move driver<->executor
once per step: O(k*d) bytes, independent of data size. A step's numpy work
runs on one core, which suits many modest mini-batches; measured on a
4-core host, 4 batches of 50k x 256 rows take ~0.2-0.3 s per step (the
partition-parallel scan it replaced: ~0.65 s) after ~2 s more set-up.
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


def assign_batches(
    df: DataFrame, key_cols: list[str], n_batches: int, col: str = "batch_id"
) -> DataFrame:
    """Deterministic batch assignment: md5 of the concatenated key, first 8
    hex chars as an int, mod n_batches. Pure column expression (JVM-side),
    and exactly replicable in pandas (hashlib) and DuckDB (md5) — the oracle
    recomputes it bit-for-bit."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return df.withColumn(col, (bucket % n_batches).cast("int"))


def assign_batches_pandas(
    pdf: pd.DataFrame, key_cols: list[str], n_batches: int
) -> np.ndarray:
    """Pandas twin of assign_batches (oracle parity)."""
    import hashlib

    keys = pdf[key_cols[0]].astype(str)
    for c in key_cols[1:]:
        keys = keys + "|" + pdf[c].astype(str)
    return np.array(
        [int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % n_batches for k in keys],
        dtype=np.int64,
    )


def _grad_sums(W: np.ndarray, b: np.ndarray):
    """Executor function of one step: a batch block -> unnormalized
    softmax cross-entropy sums (gW, gb, loss_sum, n), turned into the
    batch-mean gradient on the driver."""

    def grad(X: np.ndarray, y: np.ndarray, _fold) -> tuple:
        rows = np.arange(len(X))
        logits = X @ W.T + b
        logits -= logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        p = e / e.sum(axis=1, keepdims=True)
        loss_sum = -np.log(np.clip(p[rows, y], 1e-30, None)).sum()
        p[rows, y] -= 1.0
        return p.T @ X, p.sum(axis=0), float(loss_sum), len(X)

    return grad


class DistributedLogReg:
    """Mini-batch softmax regression over a Spark DataFrame.

    Args mirror the reference defaults (modlyn/models/_simple_logreg_model.py:
    35-38 lr=1e-2 wd=1e-2; :120-123 max_epochs=4 max_steps=3000).
    """

    def __init__(
        self,
        n_features: int,
        classes: list,
        learning_rate: float = 1e-2,
        weight_decay: float = 1e-2,
    ):
        self.d = n_features
        self.classes = list(classes)
        self.k = len(self.classes)
        self.W = np.zeros((self.k, self.d))
        self.b = np.zeros(self.k)
        self._optW = AdamState(self.W.shape, learning_rate, weight_decay)
        self._optb = AdamState(self.b.shape, learning_rate, weight_decay)
        self.losses: list[float] = []

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
        epoch_callback=None,
    ) -> "DistributedLogReg":
        """Train over a (features, label_idx, batch_id) DataFrame.

        The frame is laid out once as cached blocks per batch
        (``BatchBlocks``); each step is one Spark job of one task on its
        batch's blocks, followed by a torch-parity Adam update on the
        driver. Batches run in increasing id order; empty ones are skipped.

        ``epoch_callback``: optional ``f(epoch_idx)`` invoked after each
        completed epoch with the model already updated — the hook the
        reference's validation_step/on_validation_epoch_end uses
        (modlyn/models/_simple_logreg_model.py:88-103).

        Defaults (max_steps=3000, max_epochs=4) mirror the reference fit()
        (_simple_logreg_model.py:120-123) so direct engine callers train to
        the same budget as the facade.
        """
        blocks = BatchBlocks(
            df,
            n_features=self.d,
            features_col=features_col,
            label_idx_col=label_idx_col,
            batch_col=batch_col,
            n_batches=n_batches,
        )

        def apply(_bid: int, part: tuple) -> None:
            gW, gb, loss_sum, n = part
            self.W = self._optW.step(self.W, gW / n)
            self.b = self._optb.step(self.b, gb / n)
            self.losses.append(loss_sum / n)

        blocks.train(
            lambda: _grad_sums(self.W, self.b),
            apply,
            max_steps=max_steps,
            max_epochs=max_epochs,
            epoch_callback=epoch_callback,
        )
        return self

    @classmethod
    def from_weights_long(cls, weights: pd.DataFrame) -> "DistributedLogReg":
        """Rebuild a model from the long-form (label, pos, weight) score
        matrix (the ``weights_long`` sink format). Bias is zero — the
        score-matrix export carries W only, like the reference's
        feature-score sink (modlyn/models/_simple_logreg_model.py:170-192).
        Class axis = sorted labels, matching ``label_encode``. Labels are
        normalized to STRINGS once, before both the class list and the
        pivot index — a numeric label column would otherwise keep its
        dtype in the pivot index and KeyError on the str-coerced class
        lookup; labels therefore order as strings ("10" < "2"), exactly
        like the engine's label_encode."""
        weights = weights.assign(label=weights["label"].astype(str))
        classes = sorted(weights["label"].unique())
        d = int(weights["pos"].max()) + 1
        m = cls(d, classes)
        piv = weights.pivot(index="label", columns="pos", values="weight")
        m.W = piv.loc[classes, list(range(d))].to_numpy(dtype=np.float64)
        return m

    # -- outputs -------------------------------------------------------------

    def get_weights(self, feature_names: list[str] | None = None) -> pd.DataFrame:
        """Score matrix: classes x features, attrs-tagged like the reference
        (modlyn/models/_simple_logreg_model.py:170-192)."""
        cols = feature_names or [f"f{j:04d}" for j in range(self.d)]
        df = pd.DataFrame(self.W, columns=cols, index=self.classes)
        df.attrs["method_name"] = "modlyn_logreg"
        return df

    def weights_long(self, spark) -> DataFrame:
        """Long-form (label, pos, weight) DataFrame for relational consumers."""
        rows = pd.DataFrame(
            {
                "label": np.repeat([str(c) for c in self.classes], self.d),
                "pos": np.tile(np.arange(self.d, dtype=np.int64), self.k),
                "weight": self.W.ravel(),
            }
        )
        return spark.createDataFrame(rows)

    def predict_df(
        self, df: DataFrame, features_col: str = "features", out_col: str = "pred_idx"
    ) -> DataFrame:
        """argmax-class prediction (reference M3) as a vectorized map."""
        W, b = self.W, self.b
        fc = features_col
        schema = StructType(
            df.schema.fields + [StructField(out_col, LongType(), False)]
        )

        def pred(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf[fc].to_numpy()).astype(np.float64)
                pdf = pdf.copy()
                pdf[out_col] = np.argmax(X @ W.T + b, axis=1)
                yield pdf

        return df.mapInPandas(pred, schema=schema)
