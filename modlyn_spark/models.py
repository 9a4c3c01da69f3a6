"""Reference-parity model API.

A thin façade over the distributed engine exposing the reference's public
surface (modlyn/models/_simple_logreg_model.py:21-192), so reference users
can switch with minimal code changes:

    model = SimpleLogReg(df, label_column="cell_type")
    model.fit(train_df, val_df, dataset_type="dask", max_steps=50)
    weights = model.get_weights()   # pandas, classes x features,
                                    # attrs["method_name"] = "modlyn_logreg"

Differences by design: "AnnData" is a Spark DataFrame with a dense
``features: array<float>`` column + a label column; the dataset_type
backends ("in-memory" vs "dask-arrayloader", reference
_simple_logreg_datamodule.py:63) are both served by the same Spark
execution, so the alias is normalized (exactly the reference's alias map,
_simple_logreg_model.py:141-150) and recorded but changes nothing.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.scoring.logreg import DistributedLogReg, assign_batches
from modlyn_spark.scoring.metrics import classification_report

# reference alias map, modlyn/models/_simple_logreg_model.py:142-150
_DATASET_TYPE_ALIASES = {
    "in_memory": "in-memory",
    "in-memory": "in-memory",
    "memory": "in-memory",
    "dask": "dask-arrayloader",
    "arrayloaders-dask": "dask-arrayloader",
    "arrayloaders-dasd": "dask-arrayloader",  # reference's tolerated typo
    "dask-arrayloader": "dask-arrayloader",
}


def normalize_dataset_type(dataset_type: str) -> str:
    return _DATASET_TYPE_ALIASES.get(dataset_type, dataset_type)


class SimpleLogReg:
    """Reference-parity wrapper: linear classifier whose weight matrix is
    the feature-score output.

    Args mirror the reference (lr/weight_decay defaults are the
    sklearn-calibrated ones, _simple_logreg_model.py:35-38).
    """

    def __init__(
        self,
        df: DataFrame,
        label_column: str,
        learning_rate: float = 1e-2,
        weight_decay: float = 1e-2,
        features_col: str = "features",
        feature_names: list[str] | None = None,
    ):
        self.label_column = label_column
        self.features_col = features_col
        # ONE aggregate: feature width, sorted distinct labels (the
        # label_encode class axis), the null-label count and the row count
        n_features, self.classes, n_null, self._n_rows = df.agg(
            F.max(F.size(features_col)),
            F.sort_array(F.collect_set(label_column)),
            F.count(F.when(F.col(label_column).isNull(), F.lit(1))),
            F.count(F.lit(1)),
        ).first()
        self._df = df
        if n_null:
            raise ValueError(
                f"label column {label_column!r} holds {n_null} null label(s); "
                "drop or fill them before training"
            )
        self.feature_names = feature_names or [
            f"f{j:04d}" for j in range(n_features)
        ]
        self._model = DistributedLogReg(
            n_features, self.classes, learning_rate, weight_decay
        )
        self.dataset_type: str | None = None
        self._val_df: DataFrame | None = None
        self.val_metrics: list[dict] = []

    def _encode_labels(self, df: DataFrame) -> DataFrame:
        return self._encode_and_count(df)[0]

    def _encode_and_count(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Encode ``label_column`` against the MODEL's class axis
        (self.classes, fixed at construction) — re-running label_encode on
        an arbitrary frame would silently misalign indices whenever that
        frame holds a subset of the classes. Unseen labels raise.

        Returns (encoded frame, row count). On the constructor's frame,
        whose labels made the class axis, nothing runs. Otherwise ONE
        eager aggregate counts the rows and the non-null labels that found
        no class index; only when the latter is non-zero does a bounded
        listing of the offenders run (distinct labels anti-joined with the
        broadcast class list, at most 20 back — bounded even if a caller
        passes a near-unique column as the label by mistake)."""
        idx_col = f"{self.label_column}_idx"
        mapping = F.create_map(
            *[x for i, c in enumerate(self.classes) for x in (F.lit(c), F.lit(i))]
        )
        enc = df.withColumn(idx_col, mapping[F.col(self.label_column)])
        # the constructor's frame (the same object, or the same plan:
        # comparing plans runs no job) was counted already
        if df is self._df or df.sameSemantics(self._df):
            return enc, self._n_rows
        unseen_row = F.col(self.label_column).isNotNull() & F.col(idx_col).isNull()
        n_rows, n_unseen = enc.agg(
            F.count(F.lit(1)), F.count(F.when(unseen_row, F.lit(1)))
        ).first()
        if n_unseen:
            classes_df = df.sparkSession.createDataFrame(
                [(c,) for c in self.classes], [self.label_column]
            )
            unseen = sorted(
                r[0]
                for r in (
                    df.select(self.label_column)
                    .where(F.col(self.label_column).isNotNull())
                    .distinct()
                    .join(F.broadcast(classes_df), self.label_column, "left_anti")
                    .limit(20)
                    .collect()
                )
            )
            raise ValueError(
                f"labels {unseen!r} are absent from the model's "
                f"classes {self.classes!r}"
            )
        return enc, n_rows

    def fit(
        self,
        train_df: DataFrame,
        val_df: DataFrame | None = None,
        *,
        dataset_type: str = "in-memory",
        batch_size_rows_hint: int = 256,
        n_batches: int | None = None,
        max_epochs: int = 4,
        max_steps: int = 3000,
        row_key_cols: list[str] | None = None,
    ) -> "SimpleLogReg":
        """Train; defaults mirror the reference fit()
        (_simple_logreg_model.py:120-123: max_epochs=4, max_steps=3000).

        When ``val_df`` is given, validation macro-F1/accuracy are computed
        after every epoch (the reference's validation_step +
        on_validation_epoch_end, _simple_logreg_model.py:88-103) and
        recorded in ``self.val_metrics`` as one dict per epoch.
        """
        self.dataset_type = normalize_dataset_type(dataset_type)
        enc, n_rows = self._encode_and_count(train_df)
        keys = row_key_cols or [
            c
            for c in train_df.columns
            if c not in (self.features_col, self.label_column)
        ]
        if not keys:
            raise ValueError("need at least one row-key column for batching")
        if n_batches is None:
            n_batches = max(n_rows // max(batch_size_rows_hint, 1), 1)
        enc = assign_batches(enc, keys, n_batches)
        self._val_df = val_df
        self.val_metrics = []
        val_enc = self._encode_labels(val_df).cache() if val_df is not None else None

        def on_epoch_end(epoch: int) -> None:
            if val_enc is None:
                return
            pred = self.predict(val_enc)
            rep = classification_report(
                pred, f"{self.label_column}_idx", "pred_idx", self.classes
            )
            self.val_metrics.append(
                {
                    "epoch": epoch,
                    "val_macro_f1": rep["macro_f1"],
                    "val_accuracy": rep["accuracy"],
                }
            )

        self._model.fit(
            enc,
            features_col=self.features_col,
            label_idx_col=f"{self.label_column}_idx",
            n_batches=n_batches,
            max_steps=max_steps,
            max_epochs=max_epochs,
            epoch_callback=on_epoch_end,
        )
        if val_enc is not None:
            val_enc.unpersist()
        return self

    @property
    def losses(self) -> list[float]:
        return self._model.losses

    def get_weights(self) -> pd.DataFrame:
        """classes x features score matrix, attrs-tagged exactly like the
        reference (_simple_logreg_model.py:186-192)."""
        return self._model.get_weights(self.feature_names)

    def predict(self, df: DataFrame, out_col: str = "pred_idx") -> DataFrame:
        return self._model.predict_df(df, self.features_col, out_col)

    def evaluate(self, df: DataFrame) -> dict:
        """Classification report on a labeled frame (reference
        plot_classification_report minus the plotting,
        _simple_logreg_model.py:225-255)."""
        enc = self._encode_labels(df)
        pred = self.predict(enc)
        return classification_report(
            pred, f"{self.label_column}_idx", "pred_idx", self.classes
        )

    # -- plotting passthroughs (matplotlib-gated; reference
    # _simple_logreg_model.py:194,225) --------------------------------------

    def plot_losses(self, figsize: tuple = (15, 6)):
        from modlyn_spark.plots import plot_losses

        return plot_losses(self.losses, self.val_metrics, figsize=figsize)

    def plot_classification_report(self, df: DataFrame, figsize: tuple = (12, 6)):
        from modlyn_spark.plots import plot_classification_report

        return plot_classification_report(
            self.evaluate(df), self.classes, figsize=figsize
        )
