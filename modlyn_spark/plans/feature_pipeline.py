"""Composed point-in-time training-table pipeline — the call a feature
platform actually makes (the feature_eng counterpart of
``plans.curation.curate_corpus``).

Stages, all previously-audited primitives:

1. **compact** each state table to its change rows
   (``windows.compact_history``) — provably as-of-invariant (the
   test_windows property), often an orders-of-magnitude shrink of the
   shuffle's state side;
2. **assemble** every feature table onto the spine in ONE fused shuffle
   (``training_set.build_training_set``);
3. **age features**: for each spec carrying ``matched_ts_col``, emit
   ``<matched_ts_col>_age_sec`` = spine_ts − matched_ts in (fractional)
   seconds — the "how stale is this state" signal every temporal model
   wants;
4. **temporal split** with embargo (``sampling.time_split``) —
   chronological eval, zero temporal leakage;
5. **CV folds** by portable key hash (``encoding.fold_column``) — for
   out-of-fold encodings and leak-free cross-validation downstream.

Compaction never changes the assembled values, so the whole pipeline has
a plain chained-ASOF SQL oracle. At 100 TB the plan is: one window
shuffle per state table (compaction), one fused spine shuffle
(assembly), then pure column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modlyn_spark.operators.encoding import fold_column
from modlyn_spark.operators.sampling import time_split
from modlyn_spark.operators.training_set import FeatureSpec, build_training_set
from modlyn_spark.operators.windows import compact_history


def _epoch_d(c: Column) -> Column:
    # NTZ cannot cast straight to a number in Spark 4; hop through LTZ
    # (session TZ is pinned UTC, matching DuckDB epoch())
    return c.cast("timestamp_ltz").cast("double")


def make_training_table(
    spine: DataFrame,
    specs: list[FeatureSpec],
    on: str | list[str],
    spine_ts: str,
    *,
    compact: bool = True,
    test_start: Column | None = None,
    embargo: Column | None = None,
    n_folds: int | None = None,
    fold_key_cols: list[str] | None = None,
    fold_salt: str = "",
) -> DataFrame:
    """Assemble the leakage-free training table.

    Args:
        compact: compact each state table to change rows first.
            Compaction compares exactly the spec's payload, so assembled
            VALUES are unchanged by construction; ``matched_ts_col`` then
            means "time of last state CHANGE" (so the age feature is
            time-since-change — usually the better signal) instead of
            "latest snapshot timestamp". Set ``compact=False`` to keep
            snapshot-age semantics.
        test_start / embargo: forwarded to ``time_split`` on the spine
            timestamp (adds a ``split`` column) when ``test_start`` set.
        n_folds / fold_key_cols / fold_salt: forwarded to ``fold_column``
            (adds a ``fold`` column) when ``n_folds`` set;
            ``fold_key_cols`` defaults to the join key(s).
    """
    on_l = [on] if isinstance(on, str) else list(on)
    work = specs
    if compact:
        work = []
        for s in specs:
            cd = compact_history(
                s.df, on_l, s.ts,
                payload_cols=s.payload(on_l),
                tiebreak=s.tiebreak or None,
            )
            work.append(
                FeatureSpec(
                    df=cd, ts=s.ts, cols=s.cols, prefix=s.prefix,
                    tolerance=s.tolerance, tiebreak=s.tiebreak,
                    matched_ts_col=s.matched_ts_col,
                )
            )
    out = build_training_set(spine, work, on=on_l, spine_ts=spine_ts)
    for s in work:
        if s.matched_ts_col:
            out = out.withColumn(
                f"{s.matched_ts_col}_age_sec",
                _epoch_d(F.col(spine_ts)) - _epoch_d(F.col(s.matched_ts_col)),
            )
    if test_start is not None:
        out = time_split(out, spine_ts, test_start, embargo=embargo)
    if n_folds is not None:
        out = fold_column(
            out, fold_key_cols or on_l, n_folds, salt=fold_salt
        )
    return out
