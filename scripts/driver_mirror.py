"""Local mirror of the external driver's correctness gate.

Runs every __spark_entry__.queries() entry against its oracle_sql() on the
same parquet tables (default sf0.01, the driver's gate SF) and compares
row count, column set, VALUE equality and — stricter than the pytest
contract test — post-normalization DTYPE equality, because the driver's
value hash is typed: a DuckDB HUGEINT rendered as float64 hash-mismatches
a Spark BIGINT even when every value is equal (the round-1 lesson).

Also enforces the driver-contract shape invariants the external gate
punishes silently: at most 50 queries() entries (the r02 driver ran
exactly the first 50 of 51 and dropped the flagship), and oracle coverage
for every entry.

Usage: python scripts/driver_mirror.py [--retired] [sf_dir] [query ...]
       --retired additionally runs retired_queries() against
       retired_oracle_sql() (entries kept out of the 50-slot contract);
       a retired entry named as a query runs without it, and a name that
       is no entry at all fails.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            out[c] = s.astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if len(got) != len(exp):
        return [f"rows {len(got)} vs {len(exp)}"]
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return [f"columns {list(g.columns)} vs {list(e.columns)}"]
    for c in g.columns:
        gk, ek = g[c].dtype.kind, e[c].dtype.kind
        if str(g[c].dtype) != str(e[c].dtype):
            # exact dtype, not just kind: int32-vs-int64 / float32-vs-
            # float64 also break the driver's typed hash
            problems.append(f"{c}: DTYPE {g[c].dtype} vs {e[c].dtype} (typed-hash mismatch)")
            continue
        if gk == "f":
            a, b = g[c].to_numpy(), e[c].to_numpy()
            m = ~(np.isnan(a) & np.isnan(b))
            if not np.allclose(a[m], b[m], rtol=1e-9, atol=1e-8):
                bad = np.abs(np.nan_to_num(a) - np.nan_to_num(b))
                problems.append(f"{c}: float diff max {bad.max():.3e}")
        else:
            if not g[c].where(g[c].notna(), None).equals(e[c].where(e[c].notna(), None)):
                problems.append(f"{c}: value mismatch")
    return problems


def check_correctness_rows(entry) -> list[str]:
    """Diff the LATEST driver CORRECTNESS_r*.json against queries():
    a renamed/rotated entry leaves an orphan row (a name the driver
    graded that no longer exists) and a missing row (a contract entry the
    driver has not yet graded). Expected right after a deliberate
    rotation; anything unexpected means a slot swap silently orphaned a
    gate row."""
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    if not files:
        return []
    latest = max(
        files, key=lambda p: int(re.search(r"_r(\d+)", p).group(1))
    )
    graded = set(json.load(open(latest)))
    current = set(entry.queries())
    msgs = []
    orphans = sorted(graded - current)
    missing = sorted(current - graded)
    retired_names = set(entry.retired_queries())
    if orphans:
        unexplained = sorted(set(orphans) - retired_names)
        msgs.append(
            f"rows in {os.path.basename(latest)} not in queries(): "
            f"{orphans} (not even retired: {unexplained})"
        )
    if missing:
        msgs.append(
            f"queries() entries without a row in "
            f"{os.path.basename(latest)} (new this round?): {missing}"
        )
    return msgs


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--retired"]
    retired = "--retired" in sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry
    from modlyn_spark.session import get_spark

    for msg in check_correctness_rows(entry):
        print(f"note: {msg}")

    spark = get_spark(app_name="driver_mirror")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    # contract-shape gate: a 51st entry silently gets NO correctness row
    assert len(qs) <= 50, (
        f"{len(qs)} queries() entries — the external driver runs at most 50 "
        "(r02 evidence); retire or merge entries"
    )
    no_oracle = sorted(set(qs) - set(oracles))
    assert not no_oracle, f"queries() entries without an oracle: {no_oracle}"
    if retired or only - set(qs):
        # a retired entry named on the command line runs without --retired
        rq = entry.retired_queries()
        if not retired:
            rq = {k: v for k, v in rq.items() if k in only}
        qs = {**qs, **rq}
        oracles = {**oracles, **entry.retired_oracle_sql()}
        print(f"(including {len(rq)} retired entries)")
    n_bad = 0
    for name in sorted(only - set(qs)):
        print(f"FAIL {name}: no such queries() or retired_queries() entry")
        n_bad += 1
    for name, q in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            got = q(spark, sf).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: query raised {type(ex).__name__}: {ex}")
            n_bad += 1
            continue
        sql = oracles.get(name)
        bound = getattr(entry, "SF_BOUND_ORACLES", {}).get(name)
        # normalize before comparing: a trailing slash / relative form /
        # symlink must not silently downgrade the bound oracle at its own SF
        if bound is not None and os.path.realpath(bound) != os.path.realpath(sf):
            print(f"ok   {name}: {len(got)} rows (oracle fixture bound to {bound}; rows-only here)")
            continue
        if sql is None:
            print(f"ok   {name}: {len(got)} rows (no oracle)")
            continue
        exp = con.sql(sql).df()
        problems = compare(name, got, exp)
        if problems:
            n_bad += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(got)} rows == oracle")
    print(f"{'ALL GREEN' if not n_bad else f'{n_bad} FAILURES'}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
