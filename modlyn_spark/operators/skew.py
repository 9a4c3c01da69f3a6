"""Join/aggregation skew diagnostics: the heavy keys and the salt they need.

The north_rule mandates "partitioning / shuffle / skew handled
explicitly"; `operators/asof.py` (time-range split of hot keys), AQE skew-join, and the
two-sided chunk salting in `dedup.py`/`linkage.py` are the *mechanisms*
— this operator is the *diagnosis*. Before launching a 100 TB join, run
the prospective key through ``skew_report`` and read off which keys
would concentrate into one reducer task and the salt factor that splits
each back under a per-task row budget. This is the planning step a
platform runs from the table's own statistics rather than discovering
the skew as a 4-hour straggler task.

Physical plan: ONE map-side-combinable ``groupBy(keys).count()`` (the
partial aggregation means the shuffle carries at most
``partitions x distinct_keys`` rows, and for a skewed key exactly one
combined row per upstream partition); the total row count is the SUM of
the grouped counts — a second aggregation over the already-grouped
frame, NOT a second scan of the data — joined back as a one-row
broadcast. Top-k heavy keys go through ``orderBy(...).limit(k)``, which
Spark executes as TakeOrderedAndProject: per-partition top-k heaps
merged on the driver, never a global sort of the distinct-key table
(at 10^9 distinct keys the sort would itself shuffle everything).

``recommended_salt`` = ceil(key_rows / target_rows_per_task): the
number of sub-keys a salted repartition must spread the key across so
no task exceeds the budget; 1 means the key needs no salting. The
deterministic tie-break (count DESC, then key) makes the top-k stable
across partitionings and engines.

Equivalent SQL: GROUP BY + cross-joined one-row total + ORDER BY/LIMIT.
Reference scope: modlyn has no distributed-join surface (its pandas
merge at modlyn/_core.py runs single-node); this operator exists for
the engine's own scale contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(
    df: DataFrame,
    key_cols: str | list[str],
    *,
    target_rows_per_task: int = 5_000_000,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` heaviest key tuples of ``df`` under ``key_cols``:
    ``n_rows``, ``share`` of the table, and the ``recommended_salt``
    factor that brings each key under ``target_rows_per_task`` rows per
    task. NULL key values count as their own key (a NULL-heavy foreign
    key is the most common real skew)."""
    if target_rows_per_task <= 0:
        raise ValueError("target_rows_per_task must be positive")
    if top_k <= 0:
        raise ValueError("top_k must be positive")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    grouped = df.groupBy(*keys).count().withColumnRenamed("count", "n_rows")
    total = grouped.agg(F.sum("n_rows").alias("__total"))
    out = (
        grouped.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
            F.ceil(
                F.col("n_rows") / F.lit(float(target_rows_per_task))
            ).alias("recommended_salt"),
        )
        .orderBy(F.desc("n_rows"), *keys)
        .limit(top_k)
    )
    return out
