"""Point-in-time last-N event history features (bounded trailing arrays).

The feature-store primitive behind sequence/recommender features: for
every probe row (entity, feature_ts), attach the entity's most recent
``n`` event values AT OR BEFORE that timestamp, most-recent-first — the
"last 10 purchases", "previous 5 error codes" shape — with the same
zero-temporal-leakage contract as the as-of join (reference context:
modlyn aligns each observation to its label state before scoring;
reference modlyn/models semantics — here the alignment target is a
bounded event WINDOW rather than a single state row).

Physical plan — two composable stages, never a probe x event join:

1. ONE window pass over the EVENT stream: each event row gets the
   rolling array of the last ``n`` event structs ending at itself
   (``rowsBetween(-(n-1), 0)`` — state per row is bounded by ``n``, so
   executor memory is O(n * batch), independent of an entity's total
   history length). Rows tied on the event timestamp collapse to the
   one ordered last (it already contains its peers in the array).
2. the as-of join (operators/asof.py) attaches each probe to the latest
   event row at-or-before its timestamp — whose rolling array IS the
   probe's last-n history, by construction (one shuffle of probes and
   collapsed event rows, one running window).

The naive alternative — join probes to all earlier events and rank —
is O(probes x events) per entity and explodes on hot entities; this
plan is O(events) window work + one as-of join, and the history arrays
are computed ONCE even when many probes land between two events.

Determinism: pass ``seq_col`` (an event sequence/id) to totally order
events tied on the timestamp; without it the within-tie order is
engine/partitioning-dependent. NULL event values are KEPT as positions
in the history (the window collects structs, not bare values, so
per-column arrays stay positionally aligned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modlyn_spark.operators.asof import asof_join


def _field(name: str):
    # closure factory: a bare ``lambda s: s[name]`` with a default-arg
    # capture would change the inferred HOF arity (recorded Spark 4 trap)
    return lambda s: s[name]


def history_features(
    probes: DataFrame,
    events: DataFrame,
    on: str | list[str],
    *,
    probe_ts: str,
    event_ts: str | None = None,
    value_cols: list[str] | str,
    n: int,
    seq_col: str | None = None,
    allow_exact_matches: bool = True,
    out_prefix: str = "hist_",
    count_col: str = "hist_n",
) -> DataFrame:
    """All probe columns + per value column ``<out_prefix><col>`` (an
    array of the last ``n`` values, most-recent-first, empty when the
    entity has no prior events) + ``count_col`` (how many of the ``n``
    slots are filled). ``allow_exact_matches=False`` makes the history
    STRICTLY-before (label-safe when probes are drawn from the event
    stream itself)."""
    keys = [on] if isinstance(on, str) else list(on)
    vals = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    ets = event_ts or probe_ts
    if n <= 0:
        raise ValueError("n must be >= 1")
    missing = [c for c in keys + [ets] + vals if c not in events.columns]
    if missing:
        raise ValueError(f"events missing columns: {missing}")

    order = [F.col(ets).asc()]
    tie_order = []
    if seq_col is not None:
        order.append(F.col(seq_col).asc())
        tie_order = [F.col(seq_col).desc()]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-(int(n) - 1), 0)
    )
    cond = F.col(ets).isNotNull()
    for k in keys:
        cond = cond & F.col(k).isNotNull()
    ev = (
        events.where(cond)
        .withColumn(
            "__hist",
            F.reverse(
                F.collect_list(F.struct(*[F.col(c) for c in vals])).over(w)
            ),
        )
    )
    # collapse timestamp ties: keep the row ordered LAST within each
    # (keys, ts) — its rolling array already contains every tied peer, so
    # the as-of match at that timestamp sees the complete history
    tw = Window.partitionBy(*keys, ets).orderBy(
        *(tie_order or [F.size("__hist").desc()])
    )
    ev = (
        ev.withColumn("__rn", F.row_number().over(tw))
        .where(F.col("__rn") == 1)
        .select(
            *keys,
            F.col(ets).alias("__ets"),
            F.col("__hist"),
        )
    )

    joined = asof_join(
        probes,
        ev,
        keys,
        probe_ts,
        "__ets",
        right_cols=["__hist"],
        allow_exact_matches=allow_exact_matches,
    )
    hist = F.coalesce(
        F.col("__hist"),
        F.array().cast(ev.schema["__hist"].dataType),
    )
    out_cols = [*probes.columns]
    out_cols.append(F.size(hist).cast("long").alias(count_col))
    for c in vals:
        out_cols.append(F.transform(hist, _field(c)).alias(f"{out_prefix}{c}"))
    return joined.select(*out_cols)


def explode_history(
    df: DataFrame,
    hist_cols: list[str] | str,
    *,
    pos_col: str = "pos",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Flatten positionally-aligned history arrays to one row per slot:
    ``keep_cols`` (default: every non-history column) + ``pos_col``
    (1 = most recent) + one scalar column per history column (prefix
    stripped is the caller's business — names pass through). Rows with
    empty histories disappear (posexplode of an empty array)."""
    hists = [hist_cols] if isinstance(hist_cols, str) else list(hist_cols)
    keep = (
        [c for c in df.columns if c not in hists]
        if keep_cols is None
        else list(keep_cols)
    )
    first, rest = hists[0], hists[1:]
    out = df.select(
        *keep,
        F.posexplode(F.col(first)).alias("__p", first),
        *rest,
    )
    cols = [*keep, (F.col("__p") + 1).cast("long").alias(pos_col), first]
    for h in rest:
        cols.append(F.col(h)[F.col("__p")].alias(h))
    return out.select(*cols)
