"""modlyn_spark — a PySpark-native feature-engineering & feature-selection engine.

A from-scratch distributed engine with the query/data-processing capabilities of
laminlabs/modlyn (reference surveyed in SURVEY.md), re-expressed Spark-first:

- ``operators``  — as-of (point-in-time) join, windowed features (lag/lead,
                   sessionize, backfill, rolling), dedup, similarity search, top-k.
- ``functions``  — image codec (pure-Python PNG), perceptual hash, text analysis.
- ``sources``    — deterministic synthetic image+caption tables, parquet helpers,
                   checkpoint manifests with per-partition lineage.
- ``scoring``    — per-class per-feature mean/variance, F-statistic, mini-batch
                   logistic regression over per-batch cached blocks, one
                   single-task job per step
                   (reference: modlyn/models/_simple_logreg_model.py).
- ``eval``       — top-N feature-set Jaccard comparison
                   (reference: modlyn/eval/_jaccard.py).
- ``oracle``     — single-node pandas/numpy reference implementations used by the
                   test suite for numpy.allclose verification.
- ``plans``      — composed end-to-end pipelines (the flagship query).
- ``streaming``  — structured-streaming analogues (session_window).
"""

__version__ = "0.1.0"

from modlyn_spark.session import get_spark  # noqa: F401
