"""Point-in-time training-set assembly (feature-store "get_historical_features").

The north-rule workload aligns each probe row (entity, feature_ts) with the
latest state of SEVERAL feature tables at once — captions, phash state,
purchase history — with zero temporal leakage per table. The reference
engine assumes this alignment already happened upstream (modlyn's AnnData
count matrix is positionally aligned to its labels, reference
modlyn/models/_simple_logreg_datamodule.py:93-99); this module is the
distributed operator that produces it from raw event-state tables.

Naively this is N successive as-of joins, i.e. N shuffles of the (huge)
spine. Here it is ONE shuffle when every feature table shares the spine's
entity key (the common feature-store case): the spine and all N state
tables go through the shared-window carry-forward kernel
(:func:`modlyn_spark.operators.asof.carry_forward`, the same kernel as
``asof_join``), so Catalyst plans a single Exchange +
Sort + Window for the whole assembly; per-table ``tolerance`` (max state
age) and column ``prefix`` are applied on the way out.

At 100 TB the plan moves spine + Σ(state tables) through exactly one
shuffle — the same bytes a SINGLE as-of join of the concatenated state
would move, and N× less spine traffic than chaining.

Semantics per table match ``asof_join``: latest right
row with ``ts <= spine_ts`` (``<`` when ``allow_exact_matches=False``);
ties among same-(key, ts) state rows are resolved by ``tiebreak`` columns
(last wins) or should be pre-deduplicated by the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from modlyn_spark.operators.asof import FeatureSpec, carry_forward


def build_training_set(
    spine: DataFrame,
    specs: list[FeatureSpec],
    on: str | list[str],
    spine_ts: str,
    *,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Attach the point-in-time state of every feature table to each spine row.

    Args:
        spine: probe side — one output row per spine row, all spine columns
            preserved in order.
        specs: feature tables (see :class:`FeatureSpec`). Output payload
            columns appear in spec order after the spine columns.
        on: entity key column(s), present in the spine and every table.
        spine_ts: feature timestamp column on the spine.
        allow_exact_matches: if True (default) state at exactly ``spine_ts``
            matches (``<=``), else strictly earlier (``<``).
    """
    on = [on] if isinstance(on, str) else list(on)
    if not specs:
        raise ValueError("need at least one FeatureSpec")
    for s in specs:
        missing = [c for c in on + [s.ts] if c not in s.df.columns]
        if missing:
            raise ValueError(f"feature table missing columns {missing}")
    out_names: list[str] = list(spine.columns)
    for s in specs:
        for c in s.payload(on):
            name = s.prefix + c
            if name in out_names:
                raise ValueError(
                    f"output column {name!r} clashes; set FeatureSpec.prefix"
                )
            out_names.append(name)
        if s.matched_ts_col:
            if s.matched_ts_col in out_names:
                raise ValueError(f"matched_ts_col {s.matched_ts_col!r} clashes")
            out_names.append(s.matched_ts_col)

    return carry_forward(spine, specs, on, spine_ts, allow_exact_matches)
