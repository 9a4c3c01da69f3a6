"""Point-in-time (as-of) join.

For each left row ``(key, left_ts)``, attach the payload of the latest right
row with ``right.ts <= left_ts`` (strictly ``<`` when
``allow_exact_matches=False``) for the same key — never a future row (zero
temporal leakage). Right rows tied on ``(key, ts)`` are ordered by the
optional tiebreak columns; the last one wins.

The reference engine (laminlabs/modlyn) has no such operator: it assumes the
AnnData count matrix is already aligned to its labels positionally
(reference: modlyn/models/_simple_logreg_datamodule.py:93-99). This operator
is the distributed substrate that produces that alignment from raw
event-state tables (BASELINE.json north_rule).

One physical plan, pure PySpark, and building it runs no job:
:func:`carry_forward`, a single-shuffle, whole-stage-codegen
carry-forward. The probe side and N state tables are unioned with a side
tag and one nullable payload struct per table (non-null exactly on that
table's rows, so ``last(..., ignorenulls=True)`` tracks row presence, not
field non-nullness), shuffled once by key, and every table's latest state
is carried forward by N ``last`` calls sharing one
``(key) ORDER BY (ts, side, tiebreaks)`` running window: one Exchange, one
Sort, one Window however many tables. ``asof_join`` calls it with one
table; ``training_set.build_training_set`` with N.

Skew split: with ``hot_keys`` or ``hot_key_threshold``, one aggregate over
the state side (:func:`_hot_key_bounds`) gives every hot key
``salt_factor - 1`` time boundaries from ``percentile_approx``, so its
``salt_factor`` time ranges hold about equal state rows. That small frame
is broadcast-joined (null-safe) onto the union, every row gets a range id
(cold keys 0) and the window partitions by (key, range), so a hot entity's
history is cut over several tasks and nothing is replicated. No carry-in
rows are needed: ``percentile_approx`` returns values of its input, so
every boundary is the timestamp of a state row of that key, and range
``r`` opens with that state. A state row's range is the number of
boundaries ``<=`` its ts; a probe's is the number of boundaries ``<=``
(``<`` when ``allow_exact_matches=False``) its ts. Every probe in range
``r >= 1`` therefore has the opening state at (or strictly before) its own
ts inside its range, and the latest such state is the global answer. Rows
tied on ts share a range. A state ts type whose values
``percentile_approx`` cannot return unchanged (decimal) is not split
(:func:`_exact_ts`).

Scale notes (100 TB design point): the plan shuffles left+right once on
the join key — the minimum possible data movement for a sort-based as-of
join — plus, with the skew split, one aggregate and a broadcast of one row
per hot key. A small state table probed by many requests is a serving
problem (an in-memory sorted index), not a second Spark plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

_SIDE = "__asof_side"
_RANGE = "__asof_range"
_BOUND = "__asof_b"
_TS = "__asof_ts"


@dataclass
class FeatureSpec:
    """One feature (state) table to as-of join onto the probe side.

    Args:
        df: state table (entity history). Must contain the probe key
            column(s) and ``ts``.
        ts: state timestamp column.
        cols: payload columns to attach (default: everything except the
            key(s) and ``ts``).
        prefix: prepended to every output payload column (required when two
            tables share payload names).
        tolerance: optional max state age (a Column interval); older
            matches are nulled out, per table.
        tiebreak: extra columns ordering same-(key, ts) state rows; the
            last by this ordering wins.
        matched_ts_col: if set, also emit the matched state timestamp
            under this name (prefix is NOT applied).
    """

    df: DataFrame
    ts: str
    cols: list[str] | None = None
    prefix: str = ""
    tolerance: Column | None = None
    tiebreak: list[str] = field(default_factory=list)
    matched_ts_col: str | None = None

    def payload(self, on: list[str]) -> list[str]:
        if self.cols is not None:
            return list(self.cols)
        return [c for c in self.df.columns if c not in set(on) | {self.ts}]


def _within_tolerance(
    value: Column, matched_ts: Column, ts: Column, tolerance: Column | None
) -> Column:
    """``value`` where the match is no older than ``ts - tolerance``."""
    if tolerance is None:
        return value
    return F.when(matched_ts >= ts - tolerance, value)


def _check_no_clash(left: DataFrame, payload: list[str], matched_ts_col: str | None):
    clash = (set(payload) | ({matched_ts_col} if matched_ts_col else set())) & set(
        left.columns
    )
    if clash:
        raise ValueError(
            f"right payload columns {sorted(clash)} clash with left columns; "
            "rename them (right.withColumnRenamed) or pass right_cols"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str | None = None,
    right_cols: list[str] | None = None,
    *,
    allow_exact_matches: bool = True,
    tolerance: Column | None = None,
    hot_keys: list | None = None,
    hot_key_threshold: int | None = None,
    salt_factor: int = 8,
    matched_ts_col: str | None = None,
    right_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Point-in-time join: latest right state at each left timestamp.

    Always the one plan of this module: left and right shuffled once by
    key into a shared running window (:func:`carry_forward`), with hot keys
    cut into time ranges when asked. Building it runs no job, however
    small the right side.

    Args:
        left: probe side; one output row per left row.
        right: state side (entity history).
        on: equi-join key column(s), present in both sides.
        left_ts: timestamp column on the left ("feature timestamp").
        right_ts: timestamp column on the right (default: same name as left_ts).
        right_cols: right payload columns to attach (default: all right columns
            except the key(s) and right_ts). Must not clash with left names.
        allow_exact_matches: if True (default) a right row at exactly
            ``left_ts`` matches (``<=``); if False, strictly earlier (``<``).
        tolerance: optional max age as a Column interval (e.g.
            ``F.expr("INTERVAL 1 HOUR")``): matches older than
            ``left_ts - tolerance`` are nulled out.
        hot_keys: explicit list of skewed key values (tuples for composite
            keys) to split into time ranges.
        hot_key_threshold: if set (and ``hot_keys`` is not), keys with more
            than this many right rows are split into time ranges.
        salt_factor: number of time ranges per hot key.
        matched_ts_col: if set, also emit the matched right timestamp under
            this name (useful for age features / tolerance audits).
        right_tiebreak: extra right columns ordering ties among right rows with
            identical (key, ts) — the last by this ordering wins.
    """
    on = [on] if isinstance(on, str) else list(on)
    spec = FeatureSpec(
        df=right,
        ts=right_ts or left_ts,
        cols=right_cols,
        tolerance=tolerance,
        tiebreak=list(right_tiebreak or []),
        matched_ts_col=matched_ts_col,
    )
    _check_no_clash(left, spec.payload(on), matched_ts_col)
    bounds = _hot_key_bounds(spec, on, hot_keys, hot_key_threshold, salt_factor)
    return carry_forward(left, [spec], on, left_ts, allow_exact_matches, bounds)


def carry_forward(
    spine: DataFrame,
    specs: list[FeatureSpec],
    on: list[str],
    spine_ts: str,
    allow_exact: bool,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """As-of join every spec onto ``spine`` in one shuffle.

    Output: the spine columns in order, then per spec its prefixed payload
    and (if set) its ``matched_ts_col``. Callers validate names.
    ``bounds`` (from :func:`_hot_key_bounds` on the single spec) splits
    hot keys into time ranges; ``None`` keeps one window partition per key.
    """
    spine_other = [c for c in spine.columns if c not in on]
    spine_types = {f.name: f.dataType for f in spine.schema.fields}
    # state rows sort before spine rows at equal ts for <= semantics
    side_state, side_spine = (0, 1) if allow_exact else (1, 0)

    struct_ts: list[StructType] = []
    tb_names: list[list[str]] = []
    for i, s in enumerate(specs):
        types = {f.name: f.dataType for f in s.df.schema.fields}
        struct_ts.append(
            StructType(
                [StructField(c, types[c], True) for c in s.payload(on)]
                + [StructField("__rts", types[s.ts], True)]
            )
        )
        tb_names.append([f"__tb{i}_{c}" for c in s.tiebreak])

    def null_structs(except_i: int | None) -> list[Column]:
        return [
            F.lit(None).cast(t).alias(f"__r{i}")
            for i, t in enumerate(struct_ts)
            if i != except_i
        ]

    def null_tiebreaks(except_i: int | None) -> list[Column]:
        cols: list[Column] = []
        for i, s in enumerate(specs):
            if i == except_i:
                continue
            types = {f.name: f.dataType for f in s.df.schema.fields}
            cols += [
                F.lit(None).cast(types[c]).alias(n)
                for c, n in zip(s.tiebreak, tb_names[i])
            ]
        return cols

    tagged = spine.select(
        *[F.col(c) for c in on],
        F.col(spine_ts).alias(_TS),
        F.lit(side_spine).alias(_SIDE),
        *[F.col(c) for c in spine_other],
        *null_structs(None),
        *null_tiebreaks(None),
    )
    parts = [tagged]
    for i, s in enumerate(specs):
        parts.append(
            s.df.select(
                *[F.col(c) for c in on],
                F.col(s.ts).alias(_TS),
                F.lit(side_state).alias(_SIDE),
                *[
                    F.lit(None).cast(spine_types[c]).alias(c)
                    for c in spine_other
                ],
                F.struct(
                    *[F.col(c) for c in s.payload(on)],
                    F.col(s.ts).alias("__rts"),
                ).alias(f"__r{i}"),
                *null_structs(i),
                *[
                    F.col(c).alias(n)
                    for c, n in zip(s.tiebreak, tb_names[i])
                ],
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    partition = list(on)
    if bounds is not None:
        assert len(specs) == 1, "time-range split needs the boundaries' own table"
        u = _split_ranges(u, bounds, on, allow_exact, side_spine)
        partition.append(_RANGE)

    # tiebreak columns are null outside their own table's rows, so they
    # only order same-table equal-ts runs (last wins); the side tag already
    # separates spine rows from state rows
    order = [F.col(_TS).asc_nulls_first(), F.col(_SIDE)]
    order += [F.col(n) for names in tb_names for n in names]
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # all N last() calls share one Window spec -> one Exchange+Sort+Window
    carried = u.select(
        "*",
        *[
            F.last(f"__r{i}", ignorenulls=True).over(w).alias(f"__m{i}")
            for i in range(len(specs))
        ],
    ).where(F.col(_SIDE) == side_spine)

    out_cols: list[Column] = [F.col(c) for c in on] + [
        F.col(_TS).alias(spine_ts)
    ] + [F.col(c) for c in spine_other if c != spine_ts]
    for i, s in enumerate(specs):
        m = F.col(f"__m{i}")
        m_ts = m.getField("__rts")
        for c in s.payload(on):
            v = _within_tolerance(m.getField(c), m_ts, F.col(_TS), s.tolerance)
            out_cols.append(v.alias(s.prefix + c))
        if s.matched_ts_col:
            v_ts = _within_tolerance(m_ts, m_ts, F.col(_TS), s.tolerance)
            out_cols.append(v_ts.alias(s.matched_ts_col))
    ordered = list(spine.columns) + [
        n
        for s in specs
        for n in [s.prefix + c for c in s.payload(on)]
        + ([s.matched_ts_col] if s.matched_ts_col else [])
    ]
    return carried.select(*out_cols).select(*ordered)


def _exact_ts(ts: Column, t: DataType) -> Column | None:
    """``ts`` where ``percentile_approx`` (which ranks in float64) returns
    it unchanged, null elsewhere; ``None`` if the type has no such values."""
    if isinstance(t, (ByteType, ShortType, IntegerType, FloatType, DoubleType, DateType)):
        return ts
    if isinstance(t, LongType):
        return F.when(ts.between(-(1 << 53), 1 << 53), ts)
    if isinstance(t, (TimestampType, TimestampNTZType)):
        # +-2^53 microseconds around the epoch: years 1685 to 2255
        lo, hi = (F.lit(d).cast(t) for d in ("1686-01-01", "2254-12-31"))
        return F.when(ts.between(lo, hi), ts)
    return None


def _hot_key_bounds(
    spec: FeatureSpec,
    on: list[str],
    hot_keys: list | None,
    threshold: int | None,
    salt_factor: int,
) -> DataFrame | None:
    """One row per hot key: the key under ``__hk_<col>`` and its
    ``salt_factor - 1`` ascending range boundaries under ``__asof_b<i>``,
    each the ts of one of its state rows. ``None`` when nothing is split.

    Hot keys are ``hot_keys`` (semi-joined, null-safe) or else the keys with
    more than ``threshold`` state rows, found by the same aggregate.
    """
    state = spec.df
    t = state.schema[spec.ts].dataType
    ts = _exact_ts(F.col(spec.ts), t)
    if ts is None or salt_factor < 2 or (not hot_keys and threshold is None):
        return None
    hk = [f"__hk_{c}" for c in on]
    if hot_keys:
        keys = state.sparkSession.createDataFrame(
            [k if isinstance(k, tuple) else (k,) for k in hot_keys],
            StructType([StructField(h, state.schema[c].dataType) for c, h in zip(on, hk)]),
        )
        state = state.join(F.broadcast(keys), _null_safe_eq(on, hk), "left_semi")
    # rank error <= n / (10 * salt_factor): ranges within ~20% of n / salt_factor,
    # and the sketch each task ships per hot key stays small
    fracs = [i / salt_factor for i in range(1, salt_factor)]
    agg = state.groupBy(*on).agg(
        F.count(F.lit(1)).alias("__n"),
        F.percentile_approx(ts, fracs, 10 * salt_factor).alias("__b"),
    )
    if not hot_keys:
        agg = agg.where(F.col("__n") > threshold)
    return agg.select(
        *[F.col(c).alias(h) for c, h in zip(on, hk)],
        *[F.col("__b")[i].alias(f"{_BOUND}{i}") for i in range(len(fracs))],
    )


def _null_safe_eq(on: list[str], hk: list[str]) -> Column:
    cond = F.lit(True)
    for c, h in zip(on, hk):
        cond = cond & F.col(c).eqNullSafe(F.col(h))
    return cond


def _split_ranges(
    u: DataFrame, bounds: DataFrame, on: list[str], allow_exact: bool, side_spine: int
) -> DataFrame:
    """``u`` plus ``_RANGE``: per row, the number of its key's boundaries
    at or before its ts (strictly before, for strict probes); 0 for keys
    not in ``bounds`` (their boundaries join as nulls). Unrolled
    comparisons, not a lambda, so the projection keeps whole-stage codegen."""
    ts = F.col(_TS)
    hk = [c for c in bounds.columns if c.startswith("__hk_")]
    rng = F.lit(0)
    for c in [c for c in bounds.columns if c.startswith(_BOUND)]:
        before = F.col(c) <= ts
        if not allow_exact:
            before = F.when(F.col(_SIDE) == side_spine, F.col(c) < ts).otherwise(before)
        rng = rng + F.when(before, 1).otherwise(0)
    return u.join(F.broadcast(bounds), _null_safe_eq(on, hk), "left").select(
        *u.columns, rng.alias(_RANGE)
    )
