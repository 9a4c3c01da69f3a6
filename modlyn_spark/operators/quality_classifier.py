"""fastText-style hashed n-gram linear classifier — the model-based
quality / domain / language gate of modern curation pipelines (DCLM's
fastText quality filter, CCNet's langid stage, DoReMi-style domain
weighting all share this shape: bag of hashed n-grams -> linear model).

Two pieces, both built on machinery the engine already owns:

- ``hashed_ngram_features``: text -> fixed-``dim`` tf vector. Tokens are
  the engine's standard word tokens (lowercased ``[a-z0-9]+`` runs, the
  same tokenizer as functions/text.words and the lang_id oracle);
  n-grams are space-joined consecutive token windows; each gram hashes to
  a slot with the engine's PORTABLE hash (first 15 hex digits of md5 ->
  int -> % dim — the same md5-conv family as operators/sampling), so any
  SQL engine reproduces the exact vector. Arrow-batched ``mapInPandas``
  behind ``ensure_parallelism`` (the featurizer is the CPU-bound stage:
  ~1-2 us per gram of md5 + python overhead; measured 28.5s -> ~3s at
  sf1/local[32] once the single-row-group scan fans out). md5 is the
  portability price — it is what lets DuckDB replay the exact vector; a
  deployment that does not need cross-engine replay can swap
  ``_portable_slot`` for xxhash and keep every other line.
- training/scoring: ``scoring/logreg.DistributedLogReg``, the one-model
  view of the engine's stacked mini-batch Adam trainer that the
  north-star pipeline already gates; the classifier is just that trainer
  pointed at hashed text features, read back through its ``W`` / ``b`` /
  ``classes``.

Scale: featurization is a map stage; training moves one k x (dim+1)
gradient partial per step from the step's single task; scoring is one
GEMM per Arrow batch. Nothing new shuffles.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import re

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def _portable_slot(gram: str, dim: int) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % dim


def hashed_ngram_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 2048,
    ngrams: tuple[int, ...] = (1, 2),
    out_col: str = "features",
) -> DataFrame:
    """(id, features: array<double>[dim]) — tf of hashed word n-grams.

    tf = slot count / total gram count per document (fastText's mean-of-
    gram-vectors normalization). NULL/empty text -> all-zero vector.
    """
    dims = int(dim)
    orders = tuple(int(n) for n in ngrams)
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(out_col, ArrayType(DoubleType())),
        ]
    )

    from modlyn_spark.session import ensure_parallelism

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # grams laid out doc-contiguously; md5 runs once per DISTINCT
            # gram in the batch (corpora share vocabulary heavily — the
            # per-occurrence hashlib loop was the featurizer's inner
            # cost), then one global bincount builds every doc's
            # histogram. Same slot ids, same counts, same tf division.
            per_doc: list[list[str]] = []
            for t in pdf[text_col]:
                grams: list[str] = []
                if isinstance(t, str) and t:
                    toks = _TOKEN_RE.findall(t.lower())
                    for n in orders:
                        for i in range(len(toks) - n + 1):
                            grams.append(" ".join(toks[i : i + n]))
                per_doc.append(grams)
            counts = np.array([len(g) for g in per_doc], dtype=np.int64)
            flat = [g for gs in per_doc for g in gs]
            nb = len(per_doc)
            hist = np.zeros((nb, dims), dtype=np.int64)
            if flat:
                uniq, inv = np.unique(
                    np.array(flat, dtype=object), return_inverse=True
                )
                slots = np.array(
                    [_portable_slot(g, dims) for g in uniq], dtype=np.int64
                )
                seg = np.repeat(np.arange(nb, dtype=np.int64), counts)
                hist = np.bincount(
                    seg * dims + slots[inv], minlength=nb * dims
                ).reshape(nb, dims)
            feats = []
            for i in range(nb):
                v = hist[i].astype(np.float64)
                if counts[i]:
                    v /= float(counts[i])
                feats.append(v)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), out_col: feats}
            )

    # single-row-group sources scan as ONE partition and would serialize
    # the md5 loop onto one core (the recorded sf1 trap) — fan the scan
    # out before the CPU-bound map; no-op on well-partitioned inputs
    src = ensure_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(run, schema=schema)


def hashed_ngram_slots(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
    ngrams: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Long-form twin of ``hashed_ngram_features``: one row per non-zero
    slot — (id, slot, n, tf). The exactly-SQL-checkable surface (the
    dense array is just this pivoted)."""
    feats = hashed_ngram_features(
        df, text_col, id_col, dim=dim, ngrams=ngrams, out_col="__v"
    )
    ex = feats.select(
        id_col, F.posexplode("__v").alias("slot", "tf")
    ).where(F.col("tf") > 0)
    return ex.select(id_col, F.col("slot").cast("long").alias("slot"), "tf")


def train_text_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    *,
    dim: int = 256,
    ngrams: tuple[int, ...] = (1, 2),
    lr: float = 1e-2,
    max_steps: int = 8,
    n_batches: int = 4,
):
    """Hashed-feature logistic regression: returns the fitted
    DistributedLogReg (weights queryable via .weights_long). Label
    encoding and md5 batching follow the gated logreg path exactly."""
    from modlyn_spark.scoring.logreg import DistributedLogReg, assign_batches
    from modlyn_spark.scoring.stats import label_encode

    feats = hashed_ngram_features(df, text_col, id_col, dim=dim, ngrams=ngrams)
    data = feats.join(
        df.select(id_col, F.col(label_col).cast("string").alias("label")), id_col
    )
    classes, enc = label_encode(data, "label")
    enc = assign_batches(enc, [id_col], n_batches)
    model = DistributedLogReg(dim, classes, learning_rate=lr)
    model.fit(enc, max_steps=max_steps, n_batches=n_batches)
    return model


def score_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model,
    *,
    dim: int | None = None,
    ngrams: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """(id, predicted label, confidence) — one GEMM per Arrow batch
    against the broadcast weight matrix (same argmax-forward shape as the
    gated ``predictions`` query)."""
    W = np.asarray(model.W, dtype=np.float64)  # (classes, dim)
    b = np.asarray(model.b, dtype=np.float64)
    classes = list(model.classes)
    d = int(dim or W.shape[1])
    feats = hashed_ngram_features(df, text_col, id_col, dim=d, ngrams=ngrams)
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("pred", StringType()),
            StructField("confidence", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["features"].to_numpy())
            Z = X @ W.T + b
            Z -= Z.max(axis=1, keepdims=True)
            P = np.exp(Z)
            P /= P.sum(axis=1, keepdims=True)
            a = P.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "pred": [classes[i] for i in a],
                    "confidence": P[np.arange(len(a)), a],
                }
            )

    return feats.mapInPandas(run, schema=schema)
