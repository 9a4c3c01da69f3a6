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

Three physical strategies, all pure PySpark, built on two shared kernels:

``union`` — :func:`carry_forward`
    Single-shuffle, whole-stage-codegen path. The probe side and N state
    tables are unioned with a side tag and one nullable payload struct per
    table (non-null exactly on that table's rows, so
    ``last(..., ignorenulls=True)`` tracks row presence, not field
    non-nullness), shuffled once by key, and every table's latest state is
    carried forward by N ``last`` calls sharing one
    ``(key) ORDER BY (ts, side, tiebreaks)`` running window: one Exchange,
    one Sort, one Window however many tables. ``asof_join`` calls it with
    one table; ``training_set.build_training_set`` with N.

``merge`` — :func:`_merge_sorted` per cogrouped bucket
    The explicit merge-scan recipe: both sides are co-bucketed by a hash of
    the key (optionally salted for hot keys), cogrouped, and merged per
    bucket with ``pandas.merge_asof``. Hot keys (detected or supplied) are
    salted: the left side's hot rows are scattered across ``salt_factor``
    shards by a hash of their timestamp, and the right side's hot-key
    history is replicated into every shard, so no single task serializes a
    skewed entity.

``broadcast`` — :func:`_merge_sorted` per left Arrow batch
    Zero-shuffle path for a small right side: the right table is collected,
    sorted once, broadcast to every executor, and each left batch is merged
    against it with ``mapInPandas``. The left side is never shuffled.

Both pandas paths carry the matched right timestamp internally and apply
``tolerance`` with the same mask as ``union`` (:func:`_within_tolerance`).

Scale notes (100 TB design point): ``union`` shuffles left+right once on the
join key — the minimum possible data movement for a sort-based as-of join;
``merge`` shuffles the same volume but exchanges whole-stage codegen for
explicit skew control; ``broadcast`` moves only the right side (driver +
executor memory bound, guarded by ``broadcast_max_rows``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_BUCKET = "__asof_bucket"
_SIDE = "__asof_side"
_TS = "__asof_ts"
_RTS = "__asof_right_ts"
_ORD = "__asof_ord"


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


def _denanify(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """pd.merge_asof fills unmatched payload cells with float NaN. For
    scalar payloads Arrow maps NaN -> NULL, but for NESTED payload types
    (array/struct columns — e.g. a rolling-history array riding through
    the as-of) Arrow refuses to coerce a float into a list ("'float'
    object is not iterable"). Normalize NaN to None on object-dtype
    payload columns so unmatched rows serialize as NULL for any type."""
    for c in cols:
        if c in pdf.columns and pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda x: None
                if x is None or (isinstance(x, float) and np.isnan(x))
                else x
            )
    return pdf


def _check_no_clash(left: DataFrame, payload: list[str], matched_ts_col: str | None):
    clash = (set(payload) | ({matched_ts_col} if matched_ts_col else set())) & set(
        left.columns
    )
    if clash:
        raise ValueError(
            f"right payload columns {sorted(clash)} clash with left columns; "
            "rename them (right.withColumnRenamed) or pass right_cols"
        )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimizer size estimate (no job launched)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62  # unknown -> treat as large


def _broadcast_threshold(df: DataFrame) -> int:
    """Same knob, parsed by Spark itself, that Catalyst's broadcast-join
    selection uses (-1 disables broadcast)."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return int(conf.autoBroadcastJoinThreshold())


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
    strategy: str = "auto",
    num_buckets: int | None = None,
    hot_keys: list | None = None,
    hot_key_threshold: int | None = None,
    salt_factor: int = 8,
    broadcast_max_rows: int = 2_000_000,
    matched_ts_col: str | None = None,
    right_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Point-in-time join: latest right state at each left timestamp.

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
        strategy: "auto" | "union" | "merge" | "broadcast".
        num_buckets: bucket count for the merge strategy (default: auto —
            sized to the Catalyst input-size estimate at ~64 MB per
            bucket, floored at spark.sql.shuffle.partitions; see
            _auto_num_buckets).
        hot_keys: explicit list of skewed key values to salt (merge strategy).
        hot_key_threshold: if set, hot keys are detected with a right-side
            count: keys with more than this many rows are salted.
        salt_factor: number of salt shards per hot key.
        broadcast_max_rows: safety bound for the broadcast strategy.
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

    if strategy == "auto":
        if hot_keys or hot_key_threshold:
            strategy = "merge"
        else:
            strategy = (
                "broadcast"
                if _estimated_bytes(right) <= _broadcast_threshold(left)
                else "union"
            )

    if strategy == "union":
        return carry_forward(left, [spec], on, left_ts, allow_exact_matches)
    if strategy == "merge":
        return _asof_merge(
            left, spec, on, left_ts, allow_exact_matches,
            num_buckets, hot_keys, hot_key_threshold, salt_factor,
        )
    if strategy == "broadcast":
        return _asof_broadcast(
            left, spec, on, left_ts, allow_exact_matches, broadcast_max_rows
        )
    raise ValueError(f"unknown strategy {strategy!r}")


# ---------------------------------------------------------------------------
# union strategy: one shuffle, shared-window carry-forward, full codegen
# ---------------------------------------------------------------------------


def carry_forward(
    spine: DataFrame,
    specs: list[FeatureSpec],
    on: list[str],
    spine_ts: str,
    allow_exact: bool,
) -> DataFrame:
    """As-of join every spec onto ``spine`` in one shuffle.

    Output: the spine columns in order, then per spec its prefixed payload
    and (if set) its ``matched_ts_col``. Callers validate names.
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

    # tiebreak columns are null outside their own table's rows, so they
    # only order same-table equal-ts runs (last wins); the side tag already
    # separates spine rows from state rows
    order = [F.col(_TS).asc_nulls_first(), F.col(_SIDE)]
    order += [F.col(n) for names in tb_names for n in names]
    w = (
        Window.partitionBy(*on)
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


# ---------------------------------------------------------------------------
# pandas merge kernel shared by the merge and broadcast strategies
# ---------------------------------------------------------------------------


def _right_frame(spec: FeatureSpec, on: list[str]) -> DataFrame:
    """Right columns the pandas kernel reads: key(s), the right ts under
    ``_RTS`` and the payload, then the tiebreaks (sorted on, never emitted)."""
    return spec.df.select(
        *on,
        F.col(spec.ts).alias(_RTS),
        *spec.payload(on),
        *[F.col(c).alias(f"__tb_{c}") for c in spec.tiebreak],
    )


def _sort_right(rpdf: pd.DataFrame, tiebreak: list[str]) -> pd.DataFrame:
    """Stable sort by (ts, *tiebreak), nulls first like Spark's ascending
    order, so the last of a tied run by tiebreak is the one merge_asof picks."""
    tb = [f"__tb_{c}" for c in tiebreak]
    return rpdf.sort_values([_RTS, *tb], kind="mergesort", na_position="first")


def _merge_sorted(
    lpdf: pd.DataFrame,
    rpdf: pd.DataFrame,
    on: list[str],
    left_ts: str,
    payload: list[str],
    allow_exact: bool,
) -> pd.DataFrame:
    """Backward ``merge_asof`` of ``lpdf`` against ``rpdf`` (sorted by
    :func:`_sort_right`), in left row order: the left columns, the payload,
    then the matched right ts as ``_RTS``."""
    out_names = list(lpdf.columns) + payload + [_RTS]
    if lpdf.empty or rpdf.empty:
        return lpdf.assign(**{c: None for c in payload + [_RTS]})[out_names]
    lpdf = lpdf.assign(**{_ORD: np.arange(len(lpdf))}).sort_values(
        left_ts, kind="mergesort"
    )
    merged = pd.merge_asof(
        lpdf,
        rpdf,
        left_on=left_ts,
        right_on=_RTS,
        by=on,
        direction="backward",
        allow_exact_matches=allow_exact,
    ).sort_values(_ORD)
    return _denanify(merged, payload)[out_names]


def _merged_schema(left: DataFrame, right: DataFrame, payload: list[str]) -> StructType:
    right_fields = {f.name: f for f in right.schema.fields}
    return StructType(
        list(left.schema.fields)
        + [StructField(c, right_fields[c].dataType, True) for c in payload]
        + [StructField(_RTS, right_fields[_RTS].dataType, True)]
    )


def _finish(
    merged: DataFrame,
    left_cols: list[str],
    spec: FeatureSpec,
    on: list[str],
    left_ts: str,
) -> DataFrame:
    """Tolerance mask and output columns of a pandas-kernel result."""
    m_ts = F.col(_RTS)
    out = [F.col(c) for c in left_cols] + [
        _within_tolerance(F.col(c), m_ts, F.col(left_ts), spec.tolerance).alias(c)
        for c in spec.payload(on)
    ]
    if spec.matched_ts_col:
        out.append(
            _within_tolerance(m_ts, m_ts, F.col(left_ts), spec.tolerance).alias(
                spec.matched_ts_col
            )
        )
    return merged.select(*out)


# ---------------------------------------------------------------------------
# merge strategy: co-bucketed cogroup + vectorized merge_asof, salted for skew
# ---------------------------------------------------------------------------


def _detect_hot_keys(right: DataFrame, on: list[str], threshold: int) -> list:
    """Cheap hot-key scan: right-side key histogram, keys above threshold.

    At cluster scale this is a map-side-combined count over the state table —
    tiny output (one row per distinct key above threshold).
    """
    rows = (
        right.groupBy(*on)
        .count()
        .where(F.col("count") > threshold)
        .select(*on)
        .limit(10_000)
        .collect()
    )
    if len(on) == 1:
        return [r[0] for r in rows]
    return [tuple(r) for r in rows]


def _bucket_expr(on: list[str], n: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in on]), F.lit(n)).cast("int")


_TARGET_BUCKET_BYTES = 64 << 20  # ~64 MB of (estimated) input per bucket


def _auto_num_buckets(
    left: DataFrame,
    right: DataFrame,
    *,
    target_bytes: int = _TARGET_BUCKET_BYTES,
) -> int:
    """Size merge buckets to the DATA, not the cluster.

    Each merge bucket is materialized as one pandas frame inside one
    executor task, so the bucket count must scale with input volume:
    defaulting to spark.sql.shuffle.partitions puts data/n rows in one
    frame — fine at bench scale, an OOM at 100 TB. Derive n from the
    Catalyst optimizer size estimate at ~64 MB of estimated input per
    bucket (the same sizing rule the scaling run validated for shuffle
    partitions), floored at shuffle.partitions (never LESS parallel than
    the session default) and capped at 2^20 buckets. Falls back to
    shuffle.partitions when Catalyst has no estimate.
    """
    spark = left.sparkSession
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    est = _estimated_bytes(left) + _estimated_bytes(right)
    if est >= 1 << 61:  # no usable estimate
        return base
    need = (est + target_bytes - 1) // target_bytes
    return int(min(max(base, need), 1 << 20))


def _asof_merge(
    left: DataFrame,
    spec: FeatureSpec,
    on: list[str],
    left_ts: str,
    allow_exact: bool,
    num_buckets: int | None,
    hot_keys: list | None,
    hot_key_threshold: int | None,
    salt_factor: int,
) -> DataFrame:
    right = spec.df
    n = num_buckets or _auto_num_buckets(left, right)

    if hot_keys is None and hot_key_threshold is not None:
        hot_keys = _detect_hot_keys(right, on, hot_key_threshold)
    hot_keys = hot_keys or []

    lsel = left.select("*", _bucket_expr(on, n).alias(_BUCKET))
    rframe = _right_frame(spec, on)
    rsel = rframe.select("*", _bucket_expr(on, n).alias(_BUCKET))

    if hot_keys:
        # hot-key salting: left hot rows scatter by hash(ts); right hot
        # history replicates into every salt shard. Shard buckets live above
        # the normal bucket range: n + hot_index * salt_factor + salt.
        # Composite keys are matched on their null-safe concatenation.
        if len(on) == 1:
            lookup = F.col(on[0]).cast("string")
            key_of = lambda k: str(k)  # noqa: E731
        else:
            lookup = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in on])
            key_of = lambda k: "\x1f".join(str(p) for p in k)  # noqa: E731
        hot_map = {key_of(k): i for i, k in enumerate(hot_keys)}
        hot_idx = F.create_map(
            *[x for k, i in hot_map.items() for x in (F.lit(k), F.lit(i))]
        )[lookup]
        l_salt = F.pmod(
            F.xxhash64(F.col(left_ts).cast("string")), F.lit(salt_factor)
        ).cast("int")
        lsel = lsel.withColumn(
            _BUCKET,
            F.when(
                hot_idx.isNotNull(),
                F.lit(n) + hot_idx * F.lit(salt_factor) + l_salt,
            ).otherwise(F.col(_BUCKET)),
        )
        salts = F.explode(
            F.when(hot_idx.isNotNull(), F.sequence(F.lit(0), F.lit(salt_factor - 1)))
            .otherwise(F.array(F.lit(-1)))
        ).alias("__salt")
        rsel = rsel.select("*", salts).withColumn(
            _BUCKET,
            F.when(
                F.col("__salt") >= 0,
                F.lit(n) + hot_idx * F.lit(salt_factor) + F.col("__salt"),
            ).otherwise(F.col(_BUCKET)),
        ).drop("__salt")

    payload = spec.payload(on)
    tiebreak = spec.tiebreak

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        rpdf = _sort_right(rpdf.drop(columns=[_BUCKET]), tiebreak)
        return _merge_sorted(
            lpdf.drop(columns=[_BUCKET]), rpdf, on, left_ts, payload, allow_exact
        )

    merged = (
        lsel.groupBy(_BUCKET)
        .cogroup(rsel.groupBy(_BUCKET))
        .applyInPandas(merge, schema=_merged_schema(left, rframe, payload))
    )
    return _finish(merged, left.columns, spec, on, left_ts)


# ---------------------------------------------------------------------------
# broadcast strategy: small right side, zero shuffle on the left
# ---------------------------------------------------------------------------


def _asof_broadcast(
    left: DataFrame,
    spec: FeatureSpec,
    on: list[str],
    left_ts: str,
    allow_exact: bool,
    broadcast_max_rows: int,
) -> DataFrame:
    rframe = _right_frame(spec, on)
    rpdf = rframe.limit(broadcast_max_rows + 1).toPandas()
    if len(rpdf) > broadcast_max_rows:
        raise ValueError(
            f"right side exceeds broadcast_max_rows={broadcast_max_rows}; "
            "use strategy='union' or 'merge'"
        )
    bc = left.sparkSession.sparkContext.broadcast(_sort_right(rpdf, spec.tiebreak))
    payload = spec.payload(on)

    def merge_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rp = bc.value
        for lpdf in batches:
            yield _merge_sorted(lpdf, rp, on, left_ts, payload, allow_exact)

    merged = left.mapInPandas(
        merge_iter, schema=_merged_schema(left, rframe, payload)
    )
    return _finish(merged, left.columns, spec, on, left_ts)
