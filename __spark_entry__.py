"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature pipeline on
sf0.001. ``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators); ``oracle_sql()``
covers EVERY entry (50/50): SQL-expressible operators get DuckDB SQL
directly; iterative/synthetic ones (logreg, k-means, the image pipeline)
get fixture-backed oracles precomputed by the independent numpy/pandas
implementations (scripts/make_oracle_fixtures.py), read via read_parquet.

HARD CAP: the external driver evaluates at most 50 entries in dict order
(round 2 registered 51 and got exactly 50 rows back, dropping the last —
the flagship image_pipeline). queries() therefore stays at EXACTLY 50
entries with the flagship pinned first; redundant operator variants live
in ``retired_queries()`` / ``retired_oracle_sql()`` and stay pytest-gated.

Column names and types are aligned between both sides; float aggregates
are rounded identically (round(x, N)) so the driver's TYPED value-hash
compares stable doubles — validate any change with
``python scripts/driver_mirror.py`` (exact-dtype comparison) before
shipping.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _purchase_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right side for as-of joins: one state row per (user, ts) —
    deduplicated identically in the SQL oracle."""
    return (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )


def _probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .where(F.col("event_type").isin("view", "click"))
        .select("event_id", "user_id", F.col("ts").alias("feature_ts"))
    )


_FIXTURES = "/root/repo/tests/fixtures"

# the image_curation driver oracle, shared verbatim by the contrastive-
# pairs oracle (which selects from it as a CTE)
IMAGE_MANIFEST_SQL = f"""
            WITH latest AS (
              SELECT image_id, ts, version, w, h, fmt, caption, phash, fp
              FROM (
                SELECT image_id, ts, version, w, h, fmt, caption, phash,
                       CASE WHEN bytes IS NOT NULL
                            THEN md5(hex(bytes)) END AS fp,
                       row_number() OVER (PARTITION BY image_id
                           ORDER BY ts DESC, version DESC) AS rn
                FROM read_parquet('{_FIXTURES}/images_curation_input.parquet'))
              WHERE rn = 1),
            g AS (
              SELECT * FROM latest
              WHERE fmt IN ('png', 'qpng', 'jpeg')
                AND w BETWEEN 8 AND 65536 AND h BETWEEN 8 AND 65536
                AND greatest(w, h) <= 4.0 * least(w, h)
                AND fp IS NOT NULL
                AND caption IS NOT NULL
                AND len(regexp_extract_all(caption,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) >= 3),
            e AS (
              SELECT image_id, ts, version, w, h, fmt, caption, phash, fp
              FROM (
                SELECT g.*, row_number() OVER (PARTITION BY fp
                    ORDER BY image_id) AS rn2 FROM g)
              WHERE rn2 = 1),
            p AS (
              SELECT DISTINCT b.image_id FROM e a JOIN e b
                ON a.image_id < b.image_id
               WHERE bit_count(xor(a.phash, b.phash)) <= 4)
            SELECT image_id, ts, version, w, h, fmt, caption, phash, fp,
                   CASE WHEN us < 0.5 THEN 'train'
                        WHEN us < 0.75 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT e.*,
                     CAST(('0x' || substr(md5(image_id || '|r4'), 1, 8))
                          AS BIGINT) / 4294967296.0 AS us
              FROM e
              WHERE image_id NOT IN (SELECT image_id FROM p))
        """



_PURCHASE_STATE_SQL = """
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
"""
_PROBES_SQL = """
  SELECT event_id, user_id, ts AS feature_ts
  FROM events WHERE event_type IN ('view', 'click')
"""

def _pii_scrub_sql() -> str:
    """Oracle for q_pii_scrub — augmentation CASE mirrors the Spark concat
    verbatim; count/scrub chains are generated from the same PII_PATTERNS
    table so the two regex sets cannot drift."""
    from modlyn_spark.functions.pii import (
        PII_KINDS,
        duckdb_count_sql,
        duckdb_scrub_sql,
    )

    counts = ",\n               ".join(
        f"CAST({duckdb_count_sql('t', k)} AS BIGINT) AS n_{k}" for k in PII_KINDS
    )
    return f"""
        WITH a AS (
          SELECT doc_id, text || CASE
            WHEN doc_id % 11 = 0 THEN ' Contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com now.'
            WHEN doc_id % 11 = 1 THEN ' From admin@example.org at 8.8.8.'
                 || CAST(doc_id % 256 AS VARCHAR) || ' today.'
            WHEN doc_id % 11 = 3 THEN ' Node 10.' || CAST(doc_id % 200 AS VARCHAR)
                 || '.' || CAST(doc_id % 250 AS VARCHAR)
                 || '.' || CAST(doc_id % 100 AS VARCHAR) || ' up.'
            WHEN doc_id % 11 = 5 THEN ' Card 4111-1111-1111-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' on file.'
            WHEN doc_id % 11 = 7 THEN ' SSN 078-05-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ref.'
            WHEN doc_id % 11 = 9 THEN ' Call (415) 867-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today.'
            ELSE '' END AS t
          FROM documents)
        SELECT doc_id,
               {counts},
               CAST(('0x' || substr(md5({duckdb_scrub_sql('t')}), 1, 15))
                    AS BIGINT) AS scrub_fp
        FROM a
    """


# whitespace-tokenized words with per-doc positions re-ranked after
# dropping empty tokens. regexp_split_to_array on \s+ (NOT a single-space
# string_split): the engine tokenizes on \s+ and collapses runs, so a
# corpus with tabs/newlines/double spaces would silently diverge the
# repetition/span/chunk-dedup oracles under the narrower split
_WORDS_SQL = r"""
  SELECT doc_id, word, length(word) AS wl,
         row_number() OVER (PARTITION BY doc_id ORDER BY o0) AS ord
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS word,
           generate_subscripts(regexp_split_to_array(lower(text), '\s+'), 1) AS o0
    FROM documents
  ) WHERE word <> ''
"""


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time features + F-statistic feature ranking over
    the sf0.001 events table (SURVEY.md §7 M1 slice)."""
    from modlyn_spark.plans.pipeline import events_feature_pipeline

    return events_feature_pipeline(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3_top_orders(spark, sf_dir):
    """Join-heavy shipping-priority query: customer ⋈ orders ⋈ lineitem,
    revenue per order, top 10. The customer dim is broadcast (small side);
    the orders⋈lineitem join shuffles on the key with AQE."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5_region_revenue(spark, sf_dir):
    """Multi-dim star join: region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem;
    revenue per nation. All dims broadcastable."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def q_tpch_q6_forecast_revenue(spark, sf_dir):
    """Filter-heavy forecast-revenue query: every predicate reaches the
    parquet scan (PushedFilters), single partial+final aggregate."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_tpch_q4_order_priority(spark, sf_dir):
    """Existence semi-join: orders with at least one bulk (quantity > 45)
    lineitem, counted per priority (TPC-H Q4 shape over this testdata's
    trimmed lineitem schema). The EXISTS becomes a left-semi hash join;
    the date filter is pushed to the orders scan."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bulk = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .join(bulk, orders.o_orderkey == bulk.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q10_returned_items(spark, sf_dir):
    """Revenue lost to returned items per customer, top 20 (TPC-H Q10
    shape): fact-fact join shuffles on the key, the customer dim is
    broadcast into the final enrich."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_tpch_q12_shipmode(spark, sf_dir):
    """Line-status service levels (TPC-H Q12 shape over the trimmed
    schema): conditional aggregation over a joined fact pair, the shipdate
    filter pushed to the lineitem scan."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def q_value_percentiles(spark, sf_dir):
    """Exact per-event-type percentiles of the value column (the
    distribution-profiling primitive a data-quality pipeline needs).
    Exact F.percentile here (oracle-able vs DuckDB quantile_cont); the
    sketch tier — percentile_approx / approx_count_distinct, constant
    memory at any scale — is covered by an accuracy-tolerance pytest
    (tests/test_sketches.py) since sketch outputs are engine-specific."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.9), 4).alias("p90"),
        F.round(F.percentile("value", 0.99), 4).alias("p99"),
    )


def q_json_props(spark, sf_dir):
    """JSON extraction from the events props column (get_json_object +
    typed cast) — the semi-structured path."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def q_filter_min_class_freq(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    freq = orders.groupBy("o_custkey").count().where(F.col("count") > 12)
    return (
        orders.join(freq.select("o_custkey"), "o_custkey", "left_semi")
        .select("o_orderkey", "o_custkey")
    )


def q_filter_isin(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return part.where(
        F.col("p_brand").isin("Brand#1", "Brand#3")
    ).select("p_partkey", "p_brand", "p_size")


def q_limit_slice(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.orderBy("event_id").limit(1000).select("event_id", "user_id", "event_type")


def q_label_encode(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.orderBy("c_mktsegment")
    return (
        cust.select("c_mktsegment")
        .distinct()
        .select(
            F.col("c_mktsegment").alias("label"),
            (F.dense_rank().over(w) - 1).cast("long").alias("label_idx"),
        )
    )


def q_log1p(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log1p("l_quantity"), 6).alias("log1p_qty"),
    )


def q_asof_join(spark, sf_dir):
    from modlyn_spark.operators.asof import asof_join

    return asof_join(
        _probes(spark, sf_dir),
        _purchase_state(spark, sf_dir),
        on="user_id",
        left_ts="feature_ts",
        right_ts="ts",
        right_cols=["purchase_value"],
        matched_ts_col="state_ts",
    ).select("event_id", "user_id", "purchase_value", "state_ts")


def q_asof_join_merge(spark, sf_dir):
    from modlyn_spark.operators.asof import asof_join

    return asof_join(
        _probes(spark, sf_dir),
        _purchase_state(spark, sf_dir),
        on="user_id",
        left_ts="feature_ts",
        right_ts="ts",
        right_cols=["purchase_value"],
        hot_key_threshold=1000,
    ).select("event_id", "user_id", "purchase_value")


def q_asof_join_tolerance(spark, sf_dir):
    from modlyn_spark.operators.asof import asof_join

    return asof_join(
        _probes(spark, sf_dir),
        _purchase_state(spark, sf_dir),
        on="user_id",
        left_ts="feature_ts",
        right_ts="ts",
        right_cols=["purchase_value"],
        tolerance=F.expr("INTERVAL 1 DAY"),
        matched_ts_col="state_ts",
    ).select("event_id", "user_id", "purchase_value", "state_ts")


def _typed_state(spark, sf_dir, event_type: str, out_col: str):
    """One state row per (user, ts) for a single event type — the
    deduplication mirrors the SQL oracle exactly."""
    return (
        _events(spark, sf_dir)
        .where(F.col("event_type") == event_type)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias(out_col))
    )


def q_training_set(spark, sf_dir):
    """Feature-store point-in-time assembly: THREE state tables attached to
    every probe in one fused shuffle (operators/training_set.py), the error
    state age-bounded to one day. Oracle: three chained DuckDB ASOF joins."""
    from modlyn_spark.operators.training_set import FeatureSpec, build_training_set

    out = build_training_set(
        _probes(spark, sf_dir),
        [
            FeatureSpec(
                df=_purchase_state(spark, sf_dir), ts="ts",
                cols=["purchase_value"],
            ),
            FeatureSpec(
                df=_typed_state(spark, sf_dir, "signup", "signup_value"),
                ts="ts", cols=["signup_value"],
            ),
            FeatureSpec(
                df=_typed_state(spark, sf_dir, "error", "err_value"),
                ts="ts", cols=["err_value"],
                tolerance=F.expr("INTERVAL 1 DAY"),
            ),
        ],
        on="user_id",
        spine_ts="feature_ts",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("purchase_value", 4).alias("purchase_value"),
        F.round("signup_value", 4).alias("signup_value"),
        F.round("err_value", 4).alias("err_value"),
    )


def q_rolling_range_window(spark, sf_dir):
    from modlyn_spark.operators.windows import rolling_stats

    ev = _events(spark, sf_dir)
    out = rolling_stats(ev, "user_id", "ts", "value", range_seconds=3600)
    return out.select(
        "event_id",
        "user_id",
        F.col("value_roll_count").alias("roll_count"),
        F.round("value_roll_mean", 4).alias("roll_mean"),
    )


def q_dedup_groups(spark, sf_dir):
    from modlyn_spark.operators.dedup import duplicate_groups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_groups(docs, "doc_id", "text").select(
        "fp", "n_dups", "keep_id"
    )


def q_repetition_signals(spark, sf_dir):
    """Gopher Table-A1 repetition signals (functions/repetition.py) over
    the documents table — the word-n-gram measures (the driver corpus has
    no line structure; line/paragraph signals are pytest-gated on
    synthetic multi-line docs). One shuffle-free Arrow-batched map.
    Oracle: independent DuckDB window/self-join reformulation.
    Holds one of the 50 driver slots (a redundant TPC-H variant moved to
    retired_queries() in exchange — see that docstring)."""
    from modlyn_spark.functions.repetition import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_signals(docs.select("doc_id", "text"), "text")
    return out.select(
        "doc_id",
        F.round("top_2gram_char_frac", 4).alias("top2gram_frac"),
        F.round("top_3gram_char_frac", 4).alias("top3gram_frac"),
        F.round("dup_5gram_char_frac", 4).alias("dup5gram_frac"),
    )


def q_corpus_chunk_dedup(spark, sf_dir):
    """C4/RefinedWeb-style corpus-level boilerplate removal
    (operators/dedup.py corpus_line_dedup): every 3-word chunk whose exact
    value occurs >=2 times corpus-wide is removed from every document,
    texts reassembled in order. Explode -> map-side-combinable global
    count -> broadcast anti-join -> one reassembly shuffle."""
    from modlyn_spark.operators.dedup import corpus_line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_line_dedup(
        docs.select("doc_id", "text"),
        "doc_id",
        "text",
        chunk_words=3,
        min_count=2,
        out_col="clean_text",
    ).select("doc_id", "clean_text", "n_units_kept", "n_units_removed")


def q_span_dup_pairs(spark, sf_dir):
    """Verbatim-span dedup (operators/spans.py): pairs sharing an exact
    8-word contiguous run, candidates from MOSS winnowed fingerprints
    (content-defined, alignment-robust, guaranteed for matches >= k+w-1
    tokens), verified by an exact K-gram string join over candidate docs
    only. Oracle: the full K-gram inverted-index join in DuckDB — equality
    doubles as a machine check of the winnowing recall guarantee."""
    from modlyn_spark.operators.spans import span_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_dup_pairs(
        docs.select("doc_id", "text"), "doc_id", "text", span_tokens=8
    )


def q_anti_join_orphans(spark, sf_dir):
    ev = _events(spark, sf_dir)
    viewers = ev.where(F.col("event_type") == "view").select("user_id").distinct()
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return viewers.join(buyers, "user_id", "left_anti").select("user_id")


def q_lag_lead_delta(spark, sf_dir):
    from modlyn_spark.operators.windows import with_lag_lead

    st = _purchase_state(spark, sf_dir)
    out = with_lag_lead(
        st, "user_id", "ts", "purchase_value", lag_offsets=(1,), lead_offsets=(1,)
    )
    return out.select(
        "user_id",
        "ts",
        F.round("purchase_value_lag1", 4).alias("pv_lag1"),
        F.round("purchase_value_lead1", 4).alias("pv_lead1"),
        F.round("purchase_value_delta1", 4).alias("pv_delta1"),
    )


def q_sessionize(spark, sf_dir):
    from modlyn_spark.operators.windows import sessionize

    ev = _events(spark, sf_dir)
    return sessionize(ev, "user_id", "ts", 1800).select(
        "event_id", "user_id", "session_id"
    )


def q_session_stats(spark, sf_dir):
    from modlyn_spark.operators.windows import session_stats

    ev = _events(spark, sf_dir)
    out = session_stats(
        ev, "user_id", "ts", 1800, {"v_sum": F.round(F.sum("value"), 4)}
    )
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        F.round("duration_sec", 4).alias("duration_sec"),
        "v_sum",
    )


def q_backfill(spark, sf_dir):
    from modlyn_spark.operators.windows import backfill

    ev = _events(spark, sf_dir).withColumn(
        "v_sparse",
        F.when(F.col("event_type") != "error", F.col("value")),
    )
    return backfill(ev, "user_id", "ts", "v_sparse").select(
        "event_id", "user_id", F.round("v_sparse_ffill", 4).alias("v_ffill")
    )


def q_rolling_stats(spark, sf_dir):
    from modlyn_spark.operators.windows import rolling_stats

    ev = _events(spark, sf_dir)
    out = rolling_stats(ev, "user_id", "ts", "value", n_rows=5)
    return out.select(
        "event_id",
        "user_id",
        F.col("value_roll_count").alias("roll_count"),
        F.round("value_roll_mean", 4).alias("roll_mean"),
        F.round("value_roll_var", 4).alias("roll_var"),
    )


def q_topk_per_group(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("user_id", "event_id", "value", F.col("rk").cast("long").alias("rk"))
    )


def q_pivot_event_counts(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchase"
        ),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
            "n_signup"
        ),
    )


def q_groupby_count(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_global_minmax(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.agg(
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
    )


def q_class_feature_stats(spark, sf_dir):
    from modlyn_spark.scoring.stats import class_feature_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr("cast(label as string) as label", "embedding as features")
    out = class_feature_stats(df, "label", "features")
    return out.select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        "n",
        F.round("mean", 4).alias("mean"),
        F.round("var_pop", 4).alias("var_pop"),
    )


def q_f_statistic(spark, sf_dir):
    from modlyn_spark.scoring.stats import class_feature_stats, f_statistic

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr("cast(label as string) as label", "embedding as features")
    stats = class_feature_stats(df, "label", "features")
    return f_statistic(stats).select(
        F.col("pos").cast("long").alias("pos"), F.round("f_stat", 4).alias("f_stat")
    )


def q_wilcoxon_scores(spark, sf_dir):
    """Per-class Wilcoxon rank-sum z-scores (class vs rest) — the
    reference quickstart's second scoring method (scanpy
    rank_genes_groups method='wilcoxon'; reference docs/quickstart.ipynb
    cell 8c058e6c)."""
    from modlyn_spark.scoring.stats import wilcoxon_scores

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr("cast(label as string) as label", "embedding as features")
    out = wilcoxon_scores(df, "label", "features")
    return out.select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        "n1",
        F.round("rank_sum", 4).alias("rank_sum"),
        F.round("z", 4).alias("z"),
    )


def q_topn_jaccard(spark, sf_dir):
    from modlyn_spark.eval.jaccard import topn_jaccard
    from modlyn_spark.scoring.stats import class_feature_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr("cast(label as string) as label", "embedding as features")
    stats = class_feature_stats(df, "label", "features")
    m1 = stats.select(
        F.lit("mean").alias("method"), "label", "pos", F.col("mean").alias("score")
    )
    m2 = stats.select(
        F.lit("meanvar").alias("method"),
        "label",
        "pos",
        (F.col("mean") + F.sqrt("var_pop")).alias("score"),
    )
    out = topn_jaccard(
        m1.unionByName(m2), [10], include_random_baseline=False
    )
    return out.select(
        "label",
        F.col("n_top").cast("long").alias("n_top"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def q_dedup_exact(spark, sf_dir):
    from modlyn_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_exact(docs, "doc_id", "text").select("doc_id")


def q_ngram_jaccard_pairs(spark, sf_dir):
    from modlyn_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidates + EXACT n-gram Jaccard verification: every
    emitted pair carries the exact similarity, so the DuckDB exact pair set
    is the oracle and the driver's hash-match doubles as a 100%-recall
    check of the banding (k=96, bands=16: the fixture's lowest-similarity
    pair, j=0.9, is missed with p ~ 5e-6; 6 rows per band rejects the
    j~0.5 template-noise cloud that dominates this corpus).
    minhash_dedup_groups (star-edge grouping, the O(n x bands)
    dedup regime) stays pytest-gated — its est_jaccard output is
    hash-family-specific by design."""
    from modlyn_spark.operators.dedup import minhash_near_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = minhash_near_dup_pairs(docs, "doc_id", "text", k=96, bands=16,
                                 threshold=0.8)
    return out.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash pigeonhole candidates (radius 8 -> 9 blocks, exact within
    the radius) + EXACT n-gram Jaccard verification — same oracle contract
    as dedup_minhash_lsh: the exact pair set at threshold 0.8.

    Exactness is a FIXTURE contract, not a theorem: simhash hamming is not
    bounded by Jaccard, so the claim is "radius 8 recalls every j>=0.8
    pair of THIS corpus" (verified: planted pairs sit at hamming <= 8 at
    sf0.001/sf0.01/sf0.1; the driver gate runs at sf0.01). On arbitrary
    corpora radius is a recall-tuning knob — see
    tests/test_dedup_property.py for the property that IS corpus-free
    (precision 1.0 / subset-of-exact)."""
    from modlyn_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=8,
                                 threshold=0.8)
    return out.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


def _planted_embeddings(spark, sf_dir):
    """embeddings UNION exact half-scale copies (id + 1_000_000).

    The synthetic embeddings table has no true near-duplicates (max
    off-diagonal cosine ~0.51 at sf0.01), so near-dup operators would be
    trivially empty; planting deterministic scaled copies gives them a
    non-trivial, oracle-replicable target. 0.5x is EXACT in IEEE floats:
    the copy's direction is bit-identical, so cosine(v, v/2) = 1.0 and
    hyperplane signatures match structurally — recall is a theorem, not a
    tuning accident."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # transform (not a native array cast) deliberately: the dup-pair
    # consumer re-references v's elements repeatedly, and Catalyst
    # inlines a "cheap" Cast into every reference while the non-cheap
    # HOF stays projected once (measured at sf1: cast 10.8-15.4s vs
    # transform 7.8-10.9s for embedding_dup_pairs; the moments-pass
    # queries are the opposite case and use the native cast)
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    copies = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("v", lambda x: x * 0.5).alias("v"),
    )
    return base.unionByName(copies)


_PLANTED_EMB_SQL = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5)
  FROM embeddings
"""


def q_dedup_components(spark, sf_dir):
    """Transitive closure of the near-dup pair graph: A~B and B~C collapse
    to one component even when A~C was never emitted — pointer-doubling
    min-label propagation (O(log diameter) rounds) over the exact-verified
    minhash pairs. Oracle: DuckDB recursive-CTE reachability over the
    exact pair set."""
    from modlyn_spark.operators.dedup import (
        connected_components,
        minhash_near_dup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", k=96, bands=16,
                                   threshold=0.8)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


def q_embedding_dup_pairs(spark, sf_dir):
    """Near-duplicate pairs over the planted corpus — LSH-bucketed
    candidates + exact cosine verify, NO cartesian join and no input cap
    (the r01 version was an all-pairs theta join behind .limit(100))."""
    from modlyn_spark.operators.dedup import embedding_dup_pairs

    out = embedding_dup_pairs(
        _planted_embeddings(spark, sf_dir), "vec_id", "v",
        threshold=0.99, bits=8, tables=4,
    )
    return out.select("id1", "id2", F.round("cosine", 4).alias("cosine"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/semdedup.py) over the planted corpus: spherical
    assignment to the 8 smallest-vec_id base embeddings as centroids, then
    within-cluster min_id cosine prune at 0.95. The planted half-scale
    copies co-assign with their base bit-identically (scaling by 2^-1
    commutes with IEEE rounding) and carry cosine exactly 1.0, so every
    copy is dropped and every base row survives — recall is a theorem on
    this corpus, not a tuning accident."""
    from modlyn_spark.operators.semdedup import semdedup_prune

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = [
        r[0]
        for r in emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    ]
    import numpy as np

    out = semdedup_prune(
        _planted_embeddings(spark, sf_dir), "v", np.asarray(C), threshold=0.95
    )
    return out.select(
        "vec_id",
        "cluster",
        F.round("centroid_sim", 4).alias("centroid_sim"),
        "kept",
    )


def q_ann_cosine_topk(spark, sf_dir):
    from modlyn_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (
        emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cvec")
    )
    out = cosine_topk(queries, corpus, k=5)
    return out.select(
        "query_id",
        "corpus_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_retrieval_inputs(spark, sf_dir):
    """Near-dup retrieval workload: queries are exact half-scale copies of
    10 corpus vectors (see _planted_embeddings — bit-identical direction),
    so each query's true nearest neighbor is its source at cosine 1.0 with
    a wide gap to rank 2 (~0.5). The approximate indexes must recover it
    through their bucketing — recall is structural (scaled copies share
    signatures/cells exactly), while bucket pruning stays real. The
    statistical top-5 recall quality of both indexes on non-planted
    queries is pytest-gated (tests/test_minhash_dedup.py ANN suites);
    the driver query is the hard-oracle slice of the contract."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double") * 0.5).alias("qvec"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cvec")
    )
    return queries, corpus


_ANN_RETRIEVAL_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5) AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings)
    SELECT query_id, corpus_id, round(cosine, 4) AS cosine, rank FROM (
      SELECT query_id, corpus_id,
             list_cosine_similarity(qv, cv) AS cosine,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY list_cosine_similarity(qv, cv) DESC, corpus_id)
                 AS rank
      FROM q, c)
    WHERE rank <= 1
"""


def q_ann_lsh_topk(spark, sf_dir):
    from modlyn_spark.operators.similarity import lsh_cosine_topk

    queries, corpus = _ann_retrieval_inputs(spark, sf_dir)
    out = lsh_cosine_topk(queries, corpus, k=1, bits=8, tables=4)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf_topk(spark, sf_dir):
    from modlyn_spark.operators.similarity import ivf_cosine_topk

    queries, corpus = _ann_retrieval_inputs(spark, sf_dir)
    out = ivf_cosine_topk(queries, corpus, k=1, n_centroids=8, nprobe=4)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_lang_id(spark, sf_dir):
    from modlyn_spark.functions.text import lang_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_token_count(spark, sf_dir):
    from modlyn_spark.functions.text import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )


def q_quality_score(spark, sf_dir):
    from modlyn_spark.functions.text import quality_features, quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        F.round(q["punct_ratio"], 4).alias("punct_ratio"),
        F.round(q["stopword_ratio"], 4).alias("stopword_ratio"),
        F.round(q["mean_word_len"], 4).alias("mean_word_len"),
        F.round(quality_score(F.col("text")), 4).alias("quality"),
    )


def q_doc_fingerprint(spark, sf_dir):
    from modlyn_spark.functions.text import doc_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))


def q_pii_scrub(spark, sf_dir):
    """PII redaction gate (functions/pii.py): per-kind counts + a portable
    60-bit fingerprint of the scrubbed text. The driver corpus contains no
    real PII, so both engines plant it deterministically from doc_id with
    the SAME concat expression (email / ipv4 / card / ssn / phone shapes,
    one doc in 11 left clean-of-plants as the negative control); the
    oracle's regexes are generated from the identical PII_PATTERNS table
    (Java-regex/RE2-common subset). Zero-shuffle codegen map stage."""
    from modlyn_spark.functions.pii import PII_KINDS, pii_counts, scrub_pii

    from modlyn_spark.session import ensure_parallelism

    # the scrub itself is one zero-shuffle codegen map; the fan-out here
    # only un-serializes the single-row-group bench scan (no-op at scale)
    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    d = F.col("doc_id")
    pad4 = F.lpad((d % 10000).cast("string"), 4, "0")
    aug = F.concat(
        F.col("text"),
        F.when(d % 11 == 0, F.concat(F.lit(" Contact user"), d.cast("string"),
                                     F.lit("@example.com now.")))
        .when(d % 11 == 1, F.concat(F.lit(" From admin@example.org at 8.8.8."),
                                    (d % 256).cast("string"), F.lit(" today.")))
        .when(d % 11 == 3, F.concat(F.lit(" Node 10."), (d % 200).cast("string"),
                                    F.lit("."), (d % 250).cast("string"),
                                    F.lit("."), (d % 100).cast("string"),
                                    F.lit(" up.")))
        .when(d % 11 == 5, F.concat(F.lit(" Card 4111-1111-1111-"), pad4,
                                    F.lit(" on file.")))
        .when(d % 11 == 7, F.concat(F.lit(" SSN 078-05-"), pad4, F.lit(" ref.")))
        .when(d % 11 == 9, F.concat(F.lit(" Call (415) 867-"), pad4,
                                    F.lit(" today.")))
        .otherwise(F.lit("")),
    )
    a = docs.select("doc_id", aug.alias("t"))
    cnts = pii_counts(F.col("t"))
    return a.select(
        "doc_id",
        *[cnts[k].alias(f"n_{k}") for k in PII_KINDS],
        F.conv(F.substring(F.md5(scrub_pii(F.col("t"))), 1, 15), 16, 10)
        .cast("long")
        .alias("scrub_fp"),
    )


def q_kmeans_clusters(spark, sf_dir):
    """Distributed Lloyd's k-means over the embeddings (cluster-based
    curation primitive): centroid partials via one GEMM per Arrow batch,
    driver combine in sorted-partition order (deterministic at any
    parallelism); init sampled by md5(vec_id) order (unbiased under any
    storage order). Oracle: fixture precomputed by the independent numpy
    twin (oracle_kmeans, same md5-ordered pool) — iterative, so SF-bound
    like logreg_weights."""
    from modlyn_spark.operators.clustering import kmeans_assign, kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    C, _ = kmeans_fit(df, "v", k=4, max_iter=8, id_col="vec_id")
    return kmeans_assign(df, "v", C).select(
        "vec_id", "cluster", F.round("sq_dist", 4).alias("sq_dist")
    )


def q_logreg_weights(spark, sf_dir):
    from modlyn_spark.scoring.logreg import DistributedLogReg, assign_batches
    from modlyn_spark.scoring.stats import label_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr(
        "vec_id", "cast(label as string) as label", "embedding as features"
    )
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["vec_id"], 4)
    model = DistributedLogReg(64, classes).fit(enc, max_steps=8, n_batches=4)
    return model.weights_long(spark).select(
        "label", "pos", F.round("weight", 6).alias("weight")
    )


def q_stream_session_stats(spark, sf_dir):
    from modlyn_spark.streaming.sessions import stream_session_stats

    ev = _events(spark, sf_dir)
    out = stream_session_stats(ev, "user_id", "ts", 1800)
    return out.select(
        "user_id", "n_events", F.round("duration_sec", 4).alias("duration_sec"),
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
    )


def q_image_pipeline(spark, sf_dir):
    from modlyn_spark.plans.pipeline import image_feature_pipeline
    from modlyn_spark.sources.images import (
        generate_images_df,
        generate_images_pandas,
        synth_feature_requests,
    )

    images = generate_images_df(spark, 50, hot_every=25, hot_factor=10)
    requests = spark.createDataFrame(
        synth_feature_requests(generate_images_pandas(50, hot_every=25, hot_factor=10))
    )
    out = image_feature_pipeline(images, requests, hot_key_threshold=30)
    return out.select(
        "image_id",
        "label",
        F.round(F.col("features")[0], 4).alias("f_phash_hamming"),
        F.round(F.col("features")[1], 4).alias("f_version"),
        F.round(F.col("features")[5], 4).alias("f_age_sec"),
    )


def q_incremental_dedup(spark, sf_dir):
    """Bloom-pruned incremental dedup (operators/bloom.py): history =
    docs with doc_id % 3 != 0; the incoming batch = the remaining docs
    plus planted copies of history texts under new ids. The bucketed
    Bloom sketch prunes the exact anti-join; the RESULT is exactly the
    anti-join (no false negatives + exact re-check of maybe-seen), which
    is what the SQL oracle states."""
    from modlyn_spark.operators.bloom import incremental_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = docs.where(F.col("doc_id") % 3 != 0)
    planted = (
        docs.where((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 5 == 1))
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    new = docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text").unionByName(
        planted
    )
    out = incremental_dedup(
        new, hist, "text", n_buckets=16, bits_per_bucket=1 << 14
    )
    return out.select("doc_id")


def q_compact_history(spark, sf_dir):
    """State-history compaction (operators/windows.py compact_history):
    keep each user's event_type CHANGE rows only — as-of joins against
    the compacted table are provably identical (test_windows). Oracle:
    lag + IS DISTINCT FROM in DuckDB."""
    from modlyn_spark.operators.windows import compact_history

    ev = _events(spark, sf_dir)
    out = compact_history(
        ev, "user_id", "ts",
        payload_cols=["event_type"], tiebreak=["event_id"],
    )
    return out.select("event_id", "user_id", "event_type")


def q_training_table(spark, sf_dir):
    """The COMPOSED point-in-time training-table pipeline
    (plans/feature_pipeline.py make_training_table): state compaction →
    fused as-of assembly → staleness-age feature → embargoed temporal
    split → md5 CV folds. Oracle: compaction (lag + IS DISTINCT FROM),
    a DuckDB ASOF join, epoch-diff age, the same CASE boundaries and
    fold hash arithmetic — the full composition in one SQL statement."""
    from modlyn_spark.operators.training_set import FeatureSpec
    from modlyn_spark.plans.feature_pipeline import make_training_table

    out = make_training_table(
        _probes(spark, sf_dir),
        [
            FeatureSpec(
                df=_purchase_state(spark, sf_dir), ts="ts",
                cols=["purchase_value"], matched_ts_col="state_ts",
            )
        ],
        on="user_id",
        spine_ts="feature_ts",
        compact=True,
        test_start=F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"),
        embargo=F.expr("INTERVAL 2 DAYS"),
        n_folds=4,
        fold_key_cols=["event_id"],
        fold_salt="tt",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("purchase_value", 4).alias("purchase_value"),
        "state_ts",
        F.round("state_ts_age_sec", 4).alias("age_sec"),
        "split",
        "fold",
    )


def q_quantile_bins(spark, sf_dir):
    """Exact equal-frequency binning + robust scaling
    (operators/binning.py): distinct-value histogram, integer-div rank
    arithmetic, type-1 quantiles — all replayed verbatim in DuckDB
    (no approx_percentile sketch anywhere)."""
    from modlyn_spark.operators.binning import quantile_bins, robust_scale

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = quantile_bins(orders, "o_totalprice", 8, precision=2)
    out = robust_scale(out, "o_totalprice", precision=2)
    return out.select(
        "o_orderkey",
        F.col("o_totalprice_bin").alias("bin"),
        F.round("o_totalprice_robust", 4).alias("robust"),
    )


def q_roc_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC (scoring/metrics.py roc_auc):
    Mann-Whitney rank form over a distinct-score histogram — the rank
    window runs over distinct scores, never rows. Score = embedding[0],
    event = label 0. Oracle: the identical histogram/rank arithmetic in
    DuckDB."""
    from modlyn_spark.scoring.metrics import roc_auc

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = roc_auc(
        emb.select(
            F.col("embedding")[0].cast("double").alias("score"), "label"
        ),
        "score",
        "label",
        positive=0,
        precision=4,
    )
    return out.select(F.round("auc", 6).alias("auc"), "n_pos", "n_neg")


def q_calibration(spark, sf_dir):
    """Reliability table + expected calibration error
    (scoring/metrics.py calibration_report): equal-width probability
    bins over p = embedding[0] + 0.5 (an exact-arithmetic [0,1] score),
    event = label 0. Oracle: the same bin/average/ECE arithmetic in
    DuckDB."""
    from modlyn_spark.scoring.metrics import calibration_report

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = calibration_report(
        emb.select(
            (F.col("embedding")[0].cast("double") + 0.5).alias("p"),
            "label",
        ),
        "p",
        "label",
        positive=0,
        bins=10,
    )
    return out.select(
        "bin",
        "n",
        F.round("conf", 6).alias("conf"),
        F.round("acc", 6).alias("acc"),
        F.round("ece", 6).alias("ece"),
    )


def q_avg_precision(spark, sf_dir):
    """Exact average precision / PR-AUC (scoring/metrics.py
    average_precision, sklearn ``average_precision_score`` semantics):
    Σ ΔR·P over score-DESCENDING distinct thresholds, tie blocks whole.
    Same distinct-score histogram shape as roc_auc; score =
    embedding[0], event = label 0. Oracle: the identical histogram
    arithmetic in DuckDB."""
    from modlyn_spark.scoring.metrics import average_precision

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = average_precision(
        emb.select(
            F.col("embedding")[0].cast("double").alias("score"), "label"
        ),
        "score",
        "label",
        positive=0,
        precision=4,
    )
    return out.select(F.round("ap", 6).alias("ap"), "n_pos", "n_neg")


def q_pq_encode(spark, sf_dir):
    """Product-quantization encoding (operators/pq.py pq_encode): each
    64-dim embedding compresses to 8 one-byte codes against the fixed
    codebook artifact (tests/fixtures/pq_codebooks.parquet — an INPUT
    constant like the quality-classifier weights, so the query is a pure
    function of (table, artifact) and holds at every SF). Long-form
    (vec_id, subspace, code) out; oracle: per-subspace argmin over the
    same codebook table via list_distance in DuckDB."""
    import pandas as pd

    from modlyn_spark.operators.pq import df_to_codebooks, pq_encode

    C = df_to_codebooks(pd.read_parquet(f"{_FIXTURES}/pq_codebooks.parquet"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("embedding").isNotNull()
    )
    enc = pq_encode(emb.select("vec_id", "embedding"), "embedding", C)
    return enc.select(
        "vec_id", F.posexplode("pq_code").alias("subspace", "code")
    ).select(
        "vec_id",
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
    )


def q_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k ANN (operators/pq.py pq_topk):
    probes = every 100th embedding (query-sized by contract, LUT ships
    in the closure), corpus scans once emitting per-partition partial
    top-k only. Oracle: encode + LUT join + rounded ADC sum replayed in
    DuckDB over the same codebook artifact."""
    import pandas as pd

    from modlyn_spark.operators.pq import (
        df_to_codebooks,
        pq_encode,
        pq_topk,
    )

    C = df_to_codebooks(pd.read_parquet(f"{_FIXTURES}/pq_codebooks.parquet"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("embedding").isNotNull()
    )
    probes = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") % 100 == 7)
        .select("vec_id", "embedding")
        .collect()
    ]
    enc = pq_encode(emb.select("vec_id", "embedding"), "embedding", C)
    return pq_topk(enc, probes, C, id_col="vec_id", k=5)


def q_isotonic_fit(spark, sf_dir):
    """Isotonic (PAV) calibration blocks (scoring/metrics.py
    isotonic_fit): bounded distinct-score histogram distributed, PAV on
    the driver (model-sized state — same contract as logreg weights /
    k-means centroids). Score = round(embedding[0] + 0.5, 3), event =
    label 0. Oracle: SF-bound fixture from the INDEPENDENT O(B^2)
    pool-first-violator twin (oracle_isotonic — different pooling order,
    unique solution)."""
    from modlyn_spark.scoring.metrics import isotonic_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = isotonic_fit(
        emb.select(
            (F.col("embedding")[0].cast("double") + 0.5).alias("p"),
            "label",
        ),
        "p",
        "label",
        positive=0,
        precision=3,
    )
    out = spark.createDataFrame(model)
    return out.select(
        "block",
        F.round("score_lo", 6).alias("score_lo"),
        F.round("score_hi", 6).alias("score_hi"),
        F.round("p_cal", 6).alias("p_cal"),
        F.col("n").cast("long").alias("n"),
    )


def q_fuzzy_linkage(spark, sf_dir):
    """Blocked fuzzy record linkage (operators/linkage.py
    linked_pairs): normalize → sorted-2-token block key → length
    prefilter → JVM levenshtein verify, over document "titles" (first
    120 chars) — an edit-distance modality that independently
    rediscovers the corpus's planted near-duplicates. Oracle: the
    identical normalize/block/levenshtein pipeline in DuckDB."""
    from modlyn_spark.operators.linkage import linked_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.substring("text", 1, 120).alias("title")
    )
    out = linked_pairs(
        docs, "doc_id", "title", block_tokens=2, min_sim=0.8
    )
    return out.select(
        "id1",
        "id2",
        F.col("dist").cast("long").alias("dist"),
        F.round("sim", 6).alias("sim"),
    )


def q_maha_outliers(spark, sf_dir):
    """Squared Mahalanobis outlier scores (scoring/outliers.py
    mahalanobis_scores): one shared feature_moments pass (tree-combined)
    for mean/covariance, driver-side (d, d) inverse, one broadcast GEMM
    scoring pass. Oracle: SF-bound fixture from the independent numpy
    twin (make_oracle_fixtures.make_maha_fixture)."""
    from modlyn_spark.scoring.outliers import mahalanobis_scores

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("embedding").isNotNull()
    )
    out = mahalanobis_scores(emb.select("vec_id", "embedding"), "embedding")
    return out.select(
        "vec_id", F.round("maha_sq", 3).alias("maha_sq")
    )


def q_interval_join(spark, sf_dir):
    """Bucketized interval (range) join (operators/ranges.py): even
    events become SCD2 validity intervals (intervalize lead-window
    construction, capped at the history max ts), odd events are points
    matched under closed='left' — the validity-window dual of the as-of
    join. Bucket explode + equi-join on (user, bucket): no nested loop
    (plan-asserted in tests). Oracle: the interval construction + plain
    BETWEEN join in DuckDB."""
    from modlyn_spark.operators.ranges import interval_join, intervalize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("ts").isNotNull()
    )
    history = (
        ev.where(F.col("event_id") % 2 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state_value"))
    )
    cap = history.agg(F.max("ts")).collect()[0][0]
    iv = intervalize(history, "user_id", "ts", end_cap=cap)
    pts = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", F.col("ts").alias("pt_ts")
    )
    out = interval_join(
        pts,
        iv,
        point_col="pt_ts",
        lo_col="valid_from",
        hi_col="valid_to",
        on="user_id",
        closed="left",
    )
    return out.select(
        "event_id", "user_id", F.round("state_value", 6).alias("state_value")
    )


def q_funnel(spark, sf_dir):
    """Ordered-sequence funnel (operators/funnels.py): greedy-earliest
    view -> click -> purchase conversion within a 1-day horizon of the
    first view; one shuffle, JVM aggregate HOF scan per user, then the
    conversion table. Oracle: the identical chained-min formulation in
    DuckDB (t_{k+1} = earliest qualifying event strictly after t_k)."""
    from modlyn_spark.operators.funnels import funnel_levels, funnel_report

    steps = ["view", "click", "purchase"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    levels = funnel_levels(
        ev, "user_id", "ts", "event_type", steps, horizon_s=86400.0
    )
    rep = funnel_report(levels, steps)
    return rep.select(
        F.col("step_idx").cast("long").alias("step_idx"), "step", "users"
    )


def q_cohort_retention(spark, sf_dir):
    """Cohort retention triangle (operators/cohorts.py): epoch-weekly
    cohorts by first activity, per-(cohort, offset) active-user counts —
    map-side-combinable aggregates only, rollup bounded by cohorts x
    offsets. Oracle: the identical bucketing/rollup in DuckDB."""
    from modlyn_spark.operators.cohorts import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cohort_retention(ev, "user_id", "ts", period_s=7 * 86400.0)
    return out.select(
        "cohort",
        "offset",
        "users",
        "cohort_size",
        F.round("retention", 6).alias("retention"),
    )


def q_welch_ab(spark, sf_dir):
    """Welch unequal-variance A/B readout (scoring/abtest.py): each
    event_type vs the 'view' control on the value metric — one
    map-side-combinable group aggregate + broadcast control row, exact
    closed-form t/df. Oracle: the same formulae over var_samp in
    DuckDB."""
    from modlyn_spark.scoring.abtest import welch_ab_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = welch_ab_test(ev, "event_type", "value", control="view")
    return out.select(
        "group",
        "metric",
        "n_t",
        F.round("mean_t", 6).alias("mean_t"),
        "n_c",
        F.round("mean_c", 6).alias("mean_c"),
        F.round("lift", 6).alias("lift"),
        F.round("t", 6).alias("t"),
        F.round("df", 4).alias("df"),
    )


def q_cdc_apply(spark, sf_dir):
    """CDC apply-changes merge (operators/cdc.py): base = each user's
    pre-cutoff latest state, changelog = post-cutoff events with
    'error' deleting the row; per-key latest change wins, untouched
    base passes through one anti-join. Oracle: the identical collapse +
    anti-join + union in DuckDB."""
    from pyspark.sql import Window

    from modlyn_spark.operators.cdc import apply_changes

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    cutoff = F.lit("2024-01-15").cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = (
        ev.where(F.col("ts") < cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "value", "event_id")
    )
    changes = ev.where(F.col("ts") >= cutoff).select(
        "user_id",
        "value",
        "event_id",
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
        .alias("op"),
    )
    out = apply_changes(base, changes, "user_id", "event_id")
    return out.select(
        "user_id", "event_id", F.round("value", 6).alias("value")
    )


def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff (operators/cdc.py snapshot_diff): changelog
    between the customer table and a derived next snapshot (every third
    key dropped, another third's balance shifted) — one full-outer key
    join + null-safe codegen compare; round-trips through apply_changes
    (pytest-pinned). Oracle: the identical classification in DuckDB."""
    from modlyn_spark.operators.cdc import snapshot_diff

    old = spark.read.parquet(f"{sf_dir}/customer.parquet")
    new = old.where(F.col("c_custkey") % 3 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 3 == 1, F.col("c_acctbal") + 10.0
        ).otherwise(F.col("c_acctbal")),
    )
    d = snapshot_diff(old, new, "c_custkey")
    return d.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 6).alias("c_acctbal"),
        "c_mktsegment",
        "op",
    )


def q_resample(spark, sf_dir):
    """Gap-filled time-series resampling (operators/resample.py): per
    user daily value average (forward-filled) + event count
    (zero-filled) over each user's dense activity span — one grouped
    aggregate, sequence-exploded grid, one left join, one fill window.
    Oracle: the identical bucket/grid/fill pipeline in DuckDB."""
    from modlyn_spark.operators.resample import resample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = resample(
        ev,
        "user_id",
        "ts",
        {"v_avg": F.avg("value"), "n": F.count(F.lit(1))},
        every_s=86400.0,
        fill={"v_avg": "ffill", "n": "zero"},
    )
    return out.select(
        "user_id",
        F.round("bucket_ts", 6).alias("bucket_ts"),
        F.round("v_avg", 6).alias("v_avg"),
        "n",
    )


def q_zorder(spark, sf_dir):
    """Z-order layout keys (functions/layout.py with_zorder): Morton
    interleave of min/max-ranked (o_custkey, o_orderdate) — the
    multi-dimensional data-skipping sort key (locality pinned
    quantitatively in test_layout). Oracle: zorder_sql generates the
    bit-identical interleave expression for DuckDB."""
    from modlyn_spark.functions.layout import with_zorder

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    out = with_zorder(orders, ["o_custkey", "o_orderdate"], bits=16)
    return out.select("o_orderkey", "zkey")


def q_neg_samples(spark, sf_dir):
    """Deterministic contrastive negative sampling
    (operators/negatives.py): every 10th doc anchors k=4 negatives from
    the whole pool via the portable slot hash, positives/self excluded,
    earliest-slot dedup — a pure function of (anchor, slot, seed), so
    cluster size and resume order cannot change the training set.
    Oracle: the identical slot-hash pipeline in DuckDB."""
    from modlyn_spark.operators.negatives import sample_negatives

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("anchor"),
        (F.col("doc_id") + 1).alias("item"),
    )
    pool = docs.select(F.col("doc_id").alias("item"))
    return sample_negatives(
        pos, pool, anchor_col="anchor", item_col="item", k=4
    )


# Shared spec: the Spark query AND the DuckDB oracle are generated from
# this one list (operators/profile.py pattern — single source of truth).
_DOC_EXPECTATIONS = [
    {"type": "row_count", "min": 10},
    {"type": "not_null", "column": "text"},
    {"type": "unique", "column": "doc_id"},
    {"type": "in_set", "column": "lang",
     "values": ["en", "de", "fr", "es", "it"], "min_fraction": 0.25},
    {"type": "in_range", "column": "n_chars", "min": 1, "max": 1000000000},
    {"type": "matches", "column": "source", "pattern": "^[a-z0-9_]+$"},
    {"type": "not_null", "column": "lang", "min_fraction": 0.5},
    {"type": "unique", "column": "text"},
]


def q_dataset_report(spark, sf_dir):
    """The dataset "data card" (plans/dataset_report.py): per-column
    profile + contract verdicts + source x lang rollup + dominant
    sources, normalized into one tall (section, entity, metric, value)
    frame — the artifact attached to every corpus release. Every section
    is an already-audited primitive; the oracle chains their SQL shapes
    (generated profile/expectations twins + ROLLUP + GROUP BY HAVING)
    with the same normalization."""
    from modlyn_spark.plans.dataset_report import dataset_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dataset_report(
        docs,
        expectations=_DOC_EXPECTATIONS,
        rollup_dims=["source", "lang"],
        heavy_hitter_col="source",
        heavy_hitter_threshold=0.03125,
    )


def q_bootstrap_lift(spark, sf_dir):
    """Poisson-bootstrap LIFT CI (scoring/abtest.py bootstrap_lift_ci):
    per replicate the SAME row weights drive treatment and control means,
    so the differenced statistic handles between-side correlation by
    construction — the interval an experiment readout actually needs
    (welch_ab reports t, this reports the CI). Control = 'view' events.
    Oracle: duckdb_lift_sql GENERATED from the same constants."""
    from modlyn_spark.scoring.abtest import bootstrap_lift_ci

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return bootstrap_lift_ci(
        ev, "value", "event_type", "event_id", control="view", b=50, seed=3
    )


def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap percentile CI for per-event-type metric means
    (scoring/abtest.py bootstrap_ci): every row's b resample weights are
    a pure md5 function of (event_id, replicate, seed) — the
    embarrassingly-distributable bootstrap, no global sampling step,
    identical on any cluster/engine. Oracle: duckdb_bootstrap_sql
    GENERATED from the same Poisson(1) CDF constants."""
    from modlyn_spark.scoring.abtest import bootstrap_ci

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return bootstrap_ci(ev, "value", "event_type", "event_id", b=50, seed=2)


def q_augmentation_plan(spark, sf_dir):
    """Deterministic per-epoch augmentation parameters
    (functions/augment.py augmentation_plan): flip + crop window as a
    pure md5 column function of (image_id, epoch, seed) — resumes,
    retries and cluster resizes see identical pixels; the plan is a
    narrow no-shuffle map. Oracle: duckdb_plan_sql GENERATED from the
    same parameters over the same fixture input."""
    from modlyn_spark.functions.augment import augmentation_plan

    images = spark.read.parquet(f"{_FIXTURES}/images_curation_input.parquet")
    rows = images.select("image_id", "w", "h").where(
        F.col("w").isNotNull()
    ).distinct()
    return augmentation_plan(rows, epoch=4, seed=1)


def q_ovr_auc(spark, sf_dir):
    """Per-class one-vs-rest ROC-AUC (scoring/metrics.py ovr_roc_auc):
    long-form (class 0-9, score = embedding[class]) over the embeddings
    table; every rank window partitions by class so the scan
    parallelizes across classes. Oracle: the identical per-class
    histogram/rank arithmetic in DuckDB."""
    from modlyn_spark.scoring.metrics import ovr_roc_auc

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    long = emb.select(
        "label",
        F.explode(F.array(*[F.lit(c) for c in range(10)])).alias("cls"),
        "embedding",
    ).select(
        "cls",
        F.round(F.element_at("embedding", F.col("cls") + 1).cast("double"), 4)
        .alias("score"),
        F.col("label").alias("truth"),
    )
    out = ovr_roc_auc(long, "cls", "score", "truth")
    return out.select(
        "cls", F.round("auc", 6).alias("auc"), "n_pos", "n_neg"
    )


def q_contrastive_pairs(spark, sf_dir):
    """CLIP-style contrastive pair assembly
    (plans/image_curation.py build_contrastive_pairs): curated manifest ->
    train-split anchors -> own caption as the positive + k=4 slot-hash
    negatives from the SAME split (no val/test caption can leak into a
    training batch). Oracle: the image_curation manifest SQL reused as a
    CTE + the identical slot-hash/dedup/top-k arithmetic in DuckDB —
    the whole composition is one SQL statement."""
    from modlyn_spark.plans.image_curation import build_contrastive_pairs

    images = spark.read.parquet(f"{_FIXTURES}/images_curation_input.parquet")
    return build_contrastive_pairs(
        images,
        k_negatives=4,
        split="train",
        min_side=8,
        splits={"train": 0.5, "val": 0.25, "test": 0.25},
        salt="r4",
    )


def q_source_lang_rollup(spark, sf_dir):
    """Hierarchical OLAP rollup (operators/olap.py rollup_report):
    per-(source, lang) corpus stats with source subtotals and a grand
    total in ONE aggregation pass (single Expand, plan-asserted in
    test_olap); gid is bit-identical to ANSI GROUPING(source, lang) so
    rolled-up NULLs never collide with real NULL dimension values.
    Oracle: DuckDB GROUP BY ROLLUP with the same GROUPING id."""
    from modlyn_spark.operators.olap import rollup_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return rollup_report(
        docs,
        ["source", "lang"],
        {"n": F.count(F.lit(1)), "chars": F.sum("n_chars")},
    )


def q_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance (operators/cdc.py full_agg /
    snapshot_diff(include_old) / incremental_agg): old snapshot = orders
    minus every 7th key with unmutated values; new snapshot = all orders
    minus every 19th key, +17 on every 5th value, every 13th row MOVED to
    a synthetic group, every 17th value NULL. The engine maintains the
    per-group (count, non-null count, sum) state purely from the
    changelog; the oracle is a plain full aggregate over the NEW
    snapshot — equality IS the retraction-algebra proof (update = retract
    old + apply new, group moves included)."""
    from modlyn_spark.operators.cdc import (
        full_agg,
        incremental_agg,
        snapshot_diff,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    base_v = F.when(k % 17 == 0, F.lit(None).cast("long")).otherwise(
        (k % 100).cast("long")
    )
    old = orders.where(k % 7 != 0).select(
        k.alias("k"),
        F.col("o_orderpriority").alias("g"),
        base_v.alias("v"),
    )
    new = orders.where(k % 19 != 0).select(
        k.alias("k"),
        F.when(k % 13 == 0, F.lit("9-SYNTH"))
        .otherwise(F.col("o_orderpriority"))
        .alias("g"),
        F.when(k % 17 == 0, F.lit(None).cast("long"))
        .otherwise((k % 100).cast("long") + F.when(k % 5 == 0, 17).otherwise(0))
        .alias("v"),
    )
    state = full_agg(old, "g", "v")
    diff = snapshot_diff(old, new, "k", include_old=True)
    return incremental_agg(state, diff, "g", "v")


def q_pagerank_hosts(spark, sf_dir):
    """Damped PageRank (operators/graph.py) over the deterministic
    slot-hash link graph on the documents table (3 out-links per doc via
    the portable md5 slot hash — the corpus has no real URLs, so the
    graph is a pure function of doc_id, identical in any engine).
    Web-curation domain ranking: iterative power method, localCheckpoint
    lineage truncation, edge layout cached partitioned by src so only the
    rank vector shuffles per round. Oracle: SF-bound fixture from the
    independent dense float64 power-iteration twin
    (scripts/make_oracle_fixtures.py make_pagerank_fixture)."""
    from modlyn_spark.operators.graph import pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    slots = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(*[F.lit(j) for j in range(3)])).alias("j"),
    )
    edges = slots.select(
        "src",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("src"), F.col("j"), F.lit("pr"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long") % n
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    out = pagerank(edges, iterations=10)
    return out.select("node", F.round("rank", 6).alias("rank"))


def q_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters (operators/freq.py): exact set of
    document tokens above 1/256 corpus frequency via per-partition MG
    sketches (shuffle bounded by partitions x capacity, not distinct
    tokens) + broadcast-semi exact recount of candidates only — exact
    result from approximate pruning, so the oracle is plain
    GROUP BY ... HAVING SQL over the shared \\s+ tokenizer."""
    from modlyn_spark.operators.freq import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    return heavy_hitters(toks, "token", threshold=0.00390625)


def q_table_profile(spark, sf_dir):
    """Single-pass table profiler (operators/profile.py profile_table):
    per-column null/exact-distinct counts, typed min/max/mean/stddev and
    string length bounds for the documents snapshot — ONE fused aggregate
    scan, unpivoted over the 1-row result. Oracle: duckdb_profile_sql
    generates the identical aggregate arithmetic per column."""
    from modlyn_spark.operators.profile import profile_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return profile_table(docs)


def q_expectations(spark, sf_dir):
    """Deequ-style data-quality contract (operators/profile.py
    check_expectations): 8 constraints (row floor, null budgets, key
    uniqueness, lang domain, n_chars range, source shape, a deliberately
    failing text-uniqueness check) fused into one aggregate pass.
    Oracle: duckdb_expectations_sql generated from the SAME spec list."""
    from modlyn_spark.operators.profile import check_expectations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return check_expectations(docs, _DOC_EXPECTATIONS)


def q_tfidf_vectors(spark, sf_dir):
    """Smoothed TF-IDF document vectors (operators/retrieval.py
    tfidf_vectors): sklearn semantics over the shared BM25 inverted
    index, min_df=2, L2-normalized. Oracle: the same tokenize/count/idf/
    window-norm arithmetic in DuckDB."""
    from modlyn_spark.operators.retrieval import tfidf_vectors

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tfidf_vectors(docs, min_df=2)
    return out.select(
        "doc_id", "token", F.round("tfidf", 6).alias("tfidf")
    )


def q_image_features(spark, sf_dir):
    """Pixel-level image quality features (functions/image_features.py):
    blur (variance of Laplacian), gradient energy, luma entropy,
    Hasler-Süsstrunk colorfulness, exposure/contrast — decoded
    Arrow-batched, bytes never shuffle, corrupt payloads surface as
    decode_ok=False rows. Oracle: the INDEPENDENT numpy twin
    (oracle_image_features — np.roll Laplacian, dot-product luma,
    np.unique entropy) over the same fixture corpus."""
    from modlyn_spark.functions.image_features import image_quality_features

    images = spark.read.parquet(f"{_FIXTURES}/images_curation_input.parquet")
    out = image_quality_features(images)
    return out.select(
        "image_id",
        "version",
        "decode_ok",
        F.round("brightness", 4).alias("brightness"),
        F.round("contrast", 4).alias("contrast"),
        F.round("blur_var", 4).alias("blur_var"),
        F.round("grad_energy", 4).alias("grad_energy"),
        F.round("entropy_bits", 4).alias("entropy_bits"),
        F.round("colorfulness", 4).alias("colorfulness"),
    )


def q_image_patches(spark, sf_dir):
    """ViT-style patch extraction (functions/patches.py): decode each
    fixture image inside the Arrow map stage and emit one row per 16x16
    tile with exact-integer-luma stats — grid crops to the largest patch
    multiple, undecodable / sub-patch payloads emit zero rows. Oracle:
    the INDEPENDENT numpy twin (oracle_patch_features — explicit slicing
    loops + two-pass moments vs the engine's reshape grid)."""
    from modlyn_spark.functions.patches import extract_patches

    images = spark.read.parquet(f"{_FIXTURES}/images_curation_input.parquet")
    out = extract_patches(
        images, id_cols=["image_id", "version"], patch=16
    )
    return out.select(
        "image_id",
        "version",
        "patch_row",
        "patch_col",
        # round at 8: exact multiples of 2^-8 (integer-luma patch stats)
        # have <= 8 decimal digits, so boundary values round as identity
        # in BOTH engines (round(4) hit banker's-vs-HALF_UP on p_mean =
        # k + u/32 values)
        F.round("p_mean", 8).alias("p_mean"),
        F.round("p_std", 8).alias("p_std"),
        F.round("p_min", 8).alias("p_min"),
        F.round("p_max", 8).alias("p_max"),
    )


def q_weighted_take(spark, sf_dir):
    """Weighted sampling without replacement (operators/sampling.py
    weighted_take): per language, the 40 documents drawn with
    probability proportional to n_chars via the Efraimidis-Spirakis
    hash race (-ln(u)/w, u = portable md5 unit). Selection is a pure
    function of (doc_id, salt), so the oracle is the SAME arithmetic as
    one DuckDB window."""
    from modlyn_spark.operators.sampling import weighted_take

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = weighted_take(
        docs.select(
            "doc_id", "lang", F.col("n_chars").cast("double").alias("w")
        ),
        "w",
        40,
        ["doc_id"],
        by="lang",
        salt="wt5",
    )
    return out.select("doc_id", "lang")


def q_frequent_pairs(spark, sf_dir):
    """Association rules over document tokens (operators/assoc.py
    frequent_pairs): baskets = documents, items = \\s+ tokens, apriori
    item prune at support 0.25 then basket self-join pair counts with
    confidence/lift. Oracle: the identical counting arithmetic in
    DuckDB (0.25 is an exact binary fraction — the threshold compare
    cannot drift)."""
    from modlyn_spark.operators.assoc import frequent_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    out = frequent_pairs(toks, "doc_id", "token", min_support=0.25)
    return out.select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_ab",
        F.round("support", 6).alias("support"),
        F.round("conf_a_to_b", 6).alias("conf_a_to_b"),
        F.round("conf_b_to_a", 6).alias("conf_b_to_a"),
        F.round("lift", 6).alias("lift"),
    )


def q_recurring_tiles(spark, sf_dir):
    """Recurring-tile detection (functions/patches.py tile_fingerprints
    + recurring_tiles): md5 over each 8x8 exact-integer-luma tile of the
    latest image versions, grouped by fingerprint, kept where >= 3
    DISTINCT images share the content — the image analog of C4 line
    dedup (watermarks / letterbox / template chrome). Oracle: hashlib +
    pandas twin fixture, fully independent of the Spark operators."""
    from modlyn_spark.functions.patches import (
        recurring_tiles,
        tile_fingerprints,
    )

    images = spark.read.parquet(f"{_FIXTURES}/images_curation_input.parquet")
    w = Window.partitionBy("image_id").orderBy(F.col("version").desc())
    latest = (
        images.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .drop("__rn")
    )
    tiles = tile_fingerprints(latest, patch=8)
    return recurring_tiles(tiles, min_images=3).select(
        "tile_fp", "n_images", "n_tiles"
    )


def q_path_transitions(spark, sf_dir):
    """First-order Markov transition matrix (operators/paths.py
    transition_counts): per user, each event's next event by (ts,
    event_id), terminals absorbed into __END__, p = n / out-degree.
    Oracle: the identical lead-window + count arithmetic in DuckDB."""
    from modlyn_spark.operators.paths import transition_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = transition_counts(
        ev, "user_id", "ts", "event_type", seq_col="event_id"
    )
    return out.select(
        "event", "next_event", "n", F.round("p", 6).alias("p")
    )


def q_top_paths(spark, sf_dir):
    """Opening-path counts (operators/paths.py top_paths): each user's
    first 3 events by (ts, event_id) joined with '>', counted across
    users. Oracle: row_number cutoff + ordered string_agg in DuckDB."""
    from modlyn_spark.operators.paths import top_paths

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return top_paths(
        ev, "user_id", "ts", "event_type", depth=3, seq_col="event_id"
    ).select("path", "path_len", "n_entities")


def q_trend_features(spark, sf_dir):
    """Per-entity OLS trend features (operators/trends.py): slope /
    intercept / R² of value vs time per user, via one window (per-entity
    min-ts rebase BEFORE squaring — epoch-scale Σt² loses 10 significant
    digits otherwise) + one classed-sums aggregate on the same key.
    Oracle: the identical window + explicit-sum arithmetic in DuckDB."""
    from modlyn_spark.operators.trends import trend_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = trend_features(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        "n",
        F.round("t_span_s", 6).alias("t_span_s"),
        F.round("v_mean", 6).alias("v_mean"),
        F.round("v_std", 6).alias("v_std"),
        F.round("slope_per_s", 9).alias("slope_per_s"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


def q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts (operators/graph.py triangle_counts)
    over the deterministic slot-hash link graph (the pagerank graph):
    degree-ordered wedge join — O(m^1.5) candidates independent of the
    max degree, each triangle found exactly once at its lowest-rank
    corner. Oracle: the brute-force canonical three-way self-join in
    DuckDB; equality proves the orientation logic end to end."""
    from modlyn_spark.operators.graph import triangle_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    slots = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(*[F.lit(j) for j in range(3)])).alias("j"),
    )
    edges = slots.select(
        "src",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("src"), F.col("j"), F.lit("pr"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long") % n
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return triangle_counts(edges)


def _hash_point(key_col, lat0, lat_span, lon0, lon_span):
    """Deterministic (lat, lon) from the portable md5 unit draw — the
    synthetic geo corpus (testdata has no coordinates), identical in any
    engine."""
    def unit(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col(key_col).cast("string"),
                                      F.lit(tag))),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            / F.lit(4294967296.0)
        )

    return (
        (unit("lat") * lat_span + lat0).alias("lat"),
        (unit("lon") * lon_span + lon0).alias("lon"),
    )


def q_radius_join(spark, sf_dir):
    """Spatial radius join (operators/spatial.py): every (customer,
    supplier) point pair within 600 m over hash-synthesized coordinates
    in a ~22x25 km band — grid-cell bucketing (left in its own cell,
    right exploded to the 3x3 neighborhood, one equi-join) + exact JVM
    haversine verify; no cartesian product (plan-asserted in pytest).
    Oracle: the brute-force cross join with the identical haversine
    arithmetic in DuckDB — equality proves the formula AND that the
    neighborhood loses no pair."""
    from modlyn_spark.operators.spatial import radius_join

    lat, lon = _hash_point("c_custkey", 40.0, 0.2, -75.0, 0.3)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("cust"), lat, lon
    )
    lat, lon = _hash_point("s_suppkey", 40.0, 0.2, -75.0, 0.3)
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("supp"), lat, lon
    )
    out = radius_join(cust, supp, 600.0)
    return out.select(
        "cust_l",
        "supp_r",
        F.round("dist_m", 3).alias("dist_m"),
    )


def q_mad_outliers(spark, sf_dir):
    """Robust per-group outliers (operators/robust.py): Hampel
    identifier over event values per event_type — exact medians via
    F.percentile (type-7, quantile_cont parity pinned by the
    bootstrap-CI oracle), MAD-rescaled score, k=3.5. Oracle: identical
    two-median arithmetic in DuckDB."""
    from modlyn_spark.operators.robust import mad_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = mad_outliers(
        ev.select("event_id", "event_type", "value"), "event_type", "value"
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("robust_z", 6).alias("robust_z"),
        "is_outlier",
    )


def q_concentration(spark, sf_dir):
    """Per-group concentration report (operators/concentration.py):
    Gini / top-1 / top-10 share / effective count of document sizes per
    source — one rank window + one aggregate on the same key (single
    exchange). Oracle: the identical rank-sum arithmetic in DuckDB
    (both Σi·x and the top-k sums are invariant under tie order, so the
    two engines' row_number choices cannot diverge)."""
    from modlyn_spark.operators.concentration import concentration_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = concentration_report(docs, "source", "n_chars", top_k=10)
    return out.select(
        "source",
        "n",
        F.round("total", 6).alias("total"),
        F.round("gini", 6).alias("gini"),
        F.round("top1_share", 6).alias("top1_share"),
        F.round("topk_share", 6).alias("topk_share"),
        F.round("n_effective", 6).alias("n_effective"),
    )


def q_quantile_norm(spark, sf_dir):
    """Quantile normalization (operators/quantile_norm.py): every
    language's document-length distribution mapped onto the cross-
    language average distribution (Bolstad 2003 semantics: rank within
    group, mean per rank across groups, tie averaging; unequal group
    sizes via normalized-rank linear interpolation). Oracle: the
    IDENTICAL window + interpolation arithmetic in DuckDB, term for
    term — both engines walk the same IEEE expressions."""
    from modlyn_spark.operators.quantile_norm import quantile_normalize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("n_chars").isNotNull()
    )
    out = quantile_normalize(
        docs.select("doc_id", "lang", "n_chars"),
        "lang",
        "n_chars",
        tiebreak="doc_id",
    )
    return out.select(
        "doc_id", "lang", F.round("qnorm", 6).alias("qnorm")
    )


def q_geohash(spark, sf_dir):
    """Geohash spatial bucketing (functions/geo.py): precision-7 geohash
    of the hash-synthesized customer coordinates — pure JVM shift/mask/
    substr codegen, no UDF, NULL/out-of-range -> NULL. Oracle: the
    generated SQL twin (geohash_sql) over the same synthesis; pytest
    additionally pins the published geohash.org test vectors and an
    independent bisection reference."""
    from modlyn_spark.functions.geo import geohash_col

    lat, lon = _hash_point("c_custkey", -60.0, 120.0, -170.0, 340.0)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("cust"), lat, lon
    )
    return cust.select(
        "cust",
        geohash_col(F.col("lat"), F.col("lon"), 7).alias("gh"),
    )


def q_chi2_scores(spark, sf_dir):
    """Chi-square feature-vs-label scoring (scoring/categorical.py):
    one melted shuffle for all features, margins as window sums over the
    cells aggregate, closed-form full-grid statistic. Oracle: identical
    closed-form arithmetic in DuckDB."""
    from modlyn_spark.scoring.categorical import chi2_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chi2_scores(docs, ["source", "lang"], "lang")
    return out.select(
        "feature", F.round("chi2", 4).alias("chi2"), "dof", "n"
    )


def q_woe_iv(spark, sf_dir):
    """Weight-of-evidence encoding + information value
    (scoring/categorical.py): smoothed per-category event shares against
    the binary event lang='en'. Oracle: the same smoothing/log arithmetic
    in DuckDB."""
    from modlyn_spark.scoring.categorical import woe_iv

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    woe, iv = woe_iv(docs, ["source"], "lang", positive="en", alpha=0.5)
    return woe.join(iv, "feature").select(
        "feature",
        "value",
        "n_pos",
        "n_neg",
        F.round("woe", 6).alias("woe"),
        F.round("iv", 6).alias("iv"),
    )


def q_psi_drift(spark, sf_dir):
    """PSI feature drift between two embedding snapshots (even vs odd
    vec_id; scoring/selection.py psi_scores): bins frozen on the
    reference min/max, edge-bin clamping, eps-floored proportions —
    all replayed verbatim in the DuckDB oracle."""
    from modlyn_spark.scoring.selection import psi_scores

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = psi_scores(
        emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1"),
        "embedding", bins=10,
    )
    return out.select("pos", "n_ref", "n_new",
                      F.round("psi", 4).alias("psi"))


def q_standardize(spark, sf_dir):
    """Global z-scoring (scoring/selection.py): moments fit + pure-JVM
    zip_with transform, emitted long-form for the oracle. Oracle: DuckDB
    per-position mean/stddev_pop over the exploded embeddings."""
    from modlyn_spark.scoring.selection import standardize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    z = standardize(emb.where(F.col("embedding").isNotNull()),
                    "embedding", out_col="z")
    return z.select(
        "vec_id", F.posexplode("z").alias("pos", "zv")
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.round("zv", 4).alias("zv"),
    )


def q_time_split(spark, sf_dir):
    """Temporal split with a 2-day embargo (operators/sampling.py
    time_split): pure column expression, chronological leak-free eval.
    Oracle: the same CASE boundaries in DuckDB."""
    from modlyn_spark.operators.sampling import time_split

    ev = _events(spark, sf_dir)
    out = time_split(
        ev,
        "ts",
        F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"),
        embargo=F.expr("INTERVAL 2 DAYS"),
    )
    return out.select("event_id", "split")


def q_hybrid_rrf(spark, sf_dir):
    """Reciprocal-rank fusion of two BM25 query reformulations (words 1-6
    and 4-9 of each probe doc) over one shared inverted index
    (operators/retrieval.py rrf_fuse). Oracle: both ranked runs + the RRF
    sum replayed in DuckDB."""
    from modlyn_spark.operators.retrieval import bm25_topk, build_index, rrf_fuse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def reformulation(start: int):
        return docs.where("doc_id % 100 = 7").selectExpr(
            "doc_id AS query_id",
            "array_join(slice(regexp_extract_all(lower(text), '[a-z0-9]+',"
            f" 0), {start}, 6), ' ') AS qtext",
        )

    p, d, s = build_index(docs)
    runs = [
        bm25_topk(reformulation(1), p, d, s, k=5),
        bm25_topk(reformulation(4), p, d, s, k=5),
    ]
    return rrf_fuse(runs, k0=60.0).select(
        "query_id",
        "doc_id",
        F.round("rrf", 6).alias("rrf"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_feature_corr(spark, sf_dir):
    """Distributed Pearson correlation matrix (scoring/selection.py): one
    GEMM-partials pass (shared with PCA), tree-combined, long-form f1<f2.
    Oracle: DuckDB corr() over the exploded embedding pairs."""
    from modlyn_spark.scoring.selection import correlation_matrix

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = correlation_matrix(emb, "embedding")
    return out.select("f1", "f2", F.round("corr", 4).alias("corr"))


def q_mi_scores(spark, sf_dir):
    """Binned mutual information I(feature; label) (scoring/selection.py):
    JVM min/max pass + one Arrow joint-histogram tensor pass,
    tree-combined. Oracle: identical bin arithmetic + plogp sum in DuckDB."""
    from modlyn_spark.scoring.selection import mutual_information

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = mutual_information(emb, "embedding", "label", bins=10)
    return out.select("pos", F.round("mi", 4).alias("mi"))


def q_target_encode(spark, sf_dir):
    """Out-of-fold smoothed target encoding (operators/encoding.py): md5
    fold assignment, one (cat, fold) partial aggregate, DIRECT out-of-fold
    accumulation (exact leakage-freedom). Oracle: the same fold arithmetic
    and fan-out joins in DuckDB."""
    from modlyn_spark.operators.encoding import target_encode

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = target_encode(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
        ["o_orderkey"],
        n_folds=5,
        smoothing=20.0,
        salt="te",
    )
    return out.select(
        "o_orderkey", "fold",
        F.round("o_orderpriority_te", 4).alias("prio_te"),
    )


def q_hashed_features(spark, sf_dir):
    """fastText-style hashed (1,2)-gram featurizer
    (operators/quality_classifier.py), long form: one row per non-zero
    slot. The portable md5 slot hash makes the exact tf vector
    SQL-checkable; the dense array used by training is this pivoted."""
    from modlyn_spark.operators.quality_classifier import hashed_ngram_slots

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = hashed_ngram_slots(docs, "text", "doc_id", dim=64)
    return out.select("doc_id", "slot", F.round("tf", 6).alias("tf"))


def q_quality_classifier(spark, sf_dir):
    """Model-based quality/language gate: hashed n-gram features (dim
    256) through the gated treeAggregate Adam trainer, predicting the
    documents table's ``lang``. Oracle: the INDEPENDENT numpy twin
    (oracle_hashed_features + oracle_logreg) — SF-bound fixture like
    logreg_weights."""
    from modlyn_spark.operators.quality_classifier import train_text_classifier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_text_classifier(
        docs, "text", "lang", "doc_id", dim=256, max_steps=8, n_batches=4
    )
    return model.weights_long(spark).select(
        "label", "pos", F.round("weight", 6).alias("weight")
    )


def q_phash_topk(spark, sf_dir):
    """Perceptual-hash retrieval (operators/similarity.hamming_topk):
    per-probe exact top-3 nearest 64-bit hashes by hamming distance,
    broadcast probe side, deterministic (distance, id) ranking. Corpus =
    the portable 60-bit md5 hash of every document; probes = every 50th
    doc's hash with two low bits flipped (so rank 1 is its source at
    hamming 2). Oracle: the brute-force join in SQL."""
    from modlyn_spark.operators.similarity import hamming_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    corpus = docs.select(F.col("doc_id").alias("corpus_id"), h.alias("chash"))
    probes = docs.where(F.col("doc_id") % 50 == 3).select(
        F.col("doc_id").alias("probe_id"),
        h.bitwiseXOR(F.lit(3)).alias("phash"),
    )
    return hamming_topk(probes, corpus, k=3)


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (operators/chunking.py), overlap variant
    (max 32 / stride 24): pure codegen — tokenize, per-row index
    sequence, slice+join, posexplode; zero Exchange, zero Python."""
    from modlyn_spark.operators.chunking import chunk_documents
    from modlyn_spark.session import ensure_parallelism

    # the operator itself is a zero-Exchange map (plan-asserted in
    # test_chunking); the fan-out here only un-serializes the
    # single-row-group bench scan
    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    return chunk_documents(docs, max_tokens=32, stride=24)


def q_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval (operators/retrieval.py): inverted index
    over documents, probe queries = every 100th doc's first 6 words,
    top-5 per query with deterministic (score DESC, doc_id) ranking.
    Oracle: the full Okapi formula in SQL over the same index tables."""
    from modlyn_spark.operators.retrieval import bm25_topk, build_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.where("doc_id % 100 = 7").selectExpr(
        "doc_id AS query_id",
        "array_join(slice(regexp_extract_all(lower(text), '[a-z0-9]+', 0),"
        " 1, 6), ' ') AS qtext",
    )
    p, d, s = build_index(docs)
    return bm25_topk(queries, p, d, s, k=5).selectExpr(
        "query_id", "doc_id", "round(score, 6) AS score",
        "cast(rank AS BIGINT) AS rank",
    )


def q_url_filter(spark, sf_dir):
    """Web-provenance curation (functions/web.py): URL extraction,
    registered-domain normalization, and a domain-blocklist gate over
    deterministically planted URLs (the driver corpus has none — same
    planting pattern as pii_scrub, identical concat in both engines).
    Every site<k>.com with k % 10 == 0 is blocked."""
    from modlyn_spark.functions.web import (
        doc_domains,
        extract_hosts,
        extract_urls,
        registered_domain,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 4 == 1, F.concat(F.lit(" see https://www.site"),
                                    (d % 50).cast("string"), F.lit(".com/p/"),
                                    d.cast("string")))
        .when(d % 4 == 3, F.concat(F.lit(" ref http://cdn.site"),
                                   (d % 50).cast("string"), F.lit(".com/x and "
                                   "https://www.site"),
                                   ((d + 1) % 50).cast("string"),
                                   F.lit(".com/y")))
        .otherwise(F.lit("")),
    )
    a = docs.select("doc_id", aug.alias("t"))
    bl = spark.createDataFrame(
        [(f"site{k}.com",) for k in range(0, 50, 10)], ["domain"]
    )
    hit = (
        doc_domains(a, "doc_id", "t")
        .join(bl, "domain", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    doms = F.sort_array(
        F.array_distinct(
            F.transform(extract_hosts(F.col("t")), registered_domain)
        )
    )
    return (
        a.select(
            "doc_id",
            F.size(extract_urls(F.col("t"))).cast("long").alias("n_urls"),
            F.concat_ws(",", doms).alias("domains"),
        )
        .join(hit, "doc_id", "left")
        .select(
            "doc_id", "n_urls", "domains",
            F.coalesce(~F.col("__hit"), F.lit(True)).alias("kept"),
        )
    )


def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM scoring (operators/lm.py) — the order-2
    step from unigram_logprob toward CCNet's KenLM gate:
    p = 0.75 * MLE-bigram + 0.25 * smoothed-unigram (exact binary
    interpolation weights so both engines share the arithmetic
    bit-for-bit). Word order now matters: scrambled text scores below
    its in-order twin."""
    from modlyn_spark.operators.lm import bigram_doc_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_doc_logprob(docs, "doc_id", "text").selectExpr(
        "doc_id", "n_bigrams", "round(avg_logprob, 6) AS avg_logprob"
    )


def q_text_predictions(spark, sf_dir):
    """Classifier INFERENCE over documents with the quality_classifier
    weights fixture as a FIXED input (the predictions-query pattern —
    both engines read the same parquet weights, so the row is valid at
    every SF): hashed (1,2)-gram features -> batch GEMM -> softmax argmax
    with alphabetical tie-break. Oracle: the full pipeline in SQL (slot
    join + group-sum logits + max-subtracted softmax)."""
    import pandas as pd

    from modlyn_spark.operators.quality_classifier import score_documents
    from modlyn_spark.scoring.logreg import DistributedLogReg

    w = pd.read_parquet(f"{_FIXTURES}/quality_classifier_sf001.parquet")
    model = DistributedLogReg.from_weights_long(w)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = score_documents(docs, "text", "doc_id", model)
    return out.select(
        "doc_id", "pred", F.round("confidence", 4).alias("confidence")
    )


def q_image_curation(spark, sf_dir):
    """Image-modality curation manifest (plans/image_curation.py): latest
    state per entity -> format/side/aspect/caption gates -> exact-payload
    dedup on md5(hex(bytes)) -> radius-4 phash hamming prune (min-id
    rule) -> leak-free md5 split. Both engines read the same fixture
    INPUT parquet (planted clones / phash twins / per-gate invalid rows),
    so the oracle is real SQL over the identical table — valid at every
    SF. bytes never cross a shuffle: the fingerprint is computed map-side
    and the output is a payload-free manifest."""
    from modlyn_spark.plans.image_curation import curate_images

    images = spark.read.parquet(f"{_FIXTURES}/images_curation_input.parquet")
    out = curate_images(
        images,
        min_side=8,  # the synthetic generator's natural sides are 8/16/32
        splits={"train": 0.5, "val": 0.25, "test": 0.25},
        salt="r4",
    )
    return out.select(
        "image_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "version", "w", "h", "fmt", "caption", "phash", "fp", "split",
    )


def _fixture_model():
    """Model rebuilt from the logreg weights fixture (bias 0) — the weight
    matrix the prediction/report gate queries score with. The fixture is a
    FIXED input here (not an expected output), so these queries are valid
    at every SF: both engines read the same parquet weights."""
    import pandas as pd

    from modlyn_spark.scoring.logreg import DistributedLogReg

    w = pd.read_parquet(f"{_FIXTURES}/logreg_weights_sf001.parquet")
    return DistributedLogReg.from_weights_long(w)


# shared CTE: per-vector class scores + argmax prediction from the fixture
# weight matrix (bias 0), tie-broken by ascending class index like
# numpy.argmax. DuckDB zips the parallel unnests positionally.
_PRED_SQL = f"""
  w AS (SELECT label, pos, weight,
               dense_rank() OVER (ORDER BY label) - 1 AS label_idx
        FROM read_parquet('{_FIXTURES}/logreg_weights_sf001.parquet')),
  x AS (SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS v,
               unnest(generate_series(0, len(embedding) - 1)) AS pos
        FROM embeddings),
  sc AS (SELECT vec_id, label_idx, label, sum(v * weight) AS score
         FROM x JOIN w USING (pos) GROUP BY 1, 2, 3),
  pr AS (SELECT vec_id, label_idx, label,
                row_number() OVER (PARTITION BY vec_id
                    ORDER BY score DESC, label_idx ASC) AS rk
         FROM sc)
"""


def q_predictions(spark, sf_dir):
    """argmax-class prediction (reference M3,
    modlyn/models/_simple_logreg_model.py:73) over the fixture weight
    matrix: predict_df runs one (batch x d) @ (d x k) GEMM per Arrow batch;
    the oracle recomputes explode-join-sum-argmax in SQL."""
    from pyspark.sql.types import StringType

    model = _fixture_model()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr("vec_id", "embedding as features")
    out = model.predict_df(df, "features", "pred_idx")
    mapping = F.create_map(
        *[x for i, c in enumerate(model.classes) for x in (F.lit(i), F.lit(str(c)))]
    )
    return out.select(
        "vec_id",
        F.col("pred_idx").cast("int").alias("pred_idx"),
        mapping[F.col("pred_idx")].cast(StringType()).alias("pred_label"),
    )


def q_classification_report(spark, sf_dir):
    """Per-class precision/recall/F1/support + accuracy/macro/weighted rows
    (reference M4/M5, _simple_logreg_model.py:225-255) from a distributed
    confusion matrix over the M3 predictions — one k x k shuffle, metrics
    as arithmetic on the k-row label set."""
    from modlyn_spark.scoring.metrics import classification_report_df

    model = _fixture_model()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr(
        "vec_id", "cast(label as string) as true_label", "embedding as features"
    )
    pred = model.predict_df(df, "features", "pred_idx")
    mapping = F.create_map(
        *[x for i, c in enumerate(model.classes) for x in (F.lit(i), F.lit(str(c)))]
    )
    pred = pred.withColumn("pred_label", mapping[F.col("pred_idx")])
    rep = classification_report_df(pred, "true_label", "pred_label")
    return rep.select(
        "label",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        "support",
    )


def q_checkpoint_lineage(spark, sf_dir):
    """C1/C2 gate: checkpointed write of the documents table with the
    PORTABLE md5 hash family; the result IS the persisted per-bucket
    lineage manifest (bucket, n_rows, content_hash). The oracle recomputes
    every bucket's count + order-insensitive content hash directly from
    the same parquet in DuckDB — an external audit of the metrics the
    north_rule requires 'persisted alongside each commit'
    (modlyn_spark/sources/checkpoint.py)."""
    import hashlib
    import shutil
    import tempfile
    from pathlib import Path

    from modlyn_spark.sources.checkpoint import completed_buckets, write_checkpointed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # deterministic per-sf scratch dir, wiped before each run: mkdtemp
    # would leak one full table copy per gate evaluation
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = Path(tempfile.gettempdir()) / f"ckpt_lineage_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    path = str(base / "out")
    write_checkpointed(
        docs, path, ["doc_id"], n_buckets=8,
        lineage=f"documents@{sf_dir}", portable_hash=True,
    )
    recs = completed_buckets(path, spark)
    # zero-row buckets have a manifest (resume must skip them) but no data
    # to audit — the oracle's GROUP BY can't see them, so they stay local
    rows = [
        (int(b), int(r["rows"]), int(r["content_hash"]))
        for b, r in sorted(recs.items())
        if r["rows"] > 0
    ]
    return spark.createDataFrame(
        rows, "bucket int, n_rows bigint, content_hash bigint"
    )


def q_hash_split(spark, sf_dir):
    """Deterministic sampling + leak-free splits (operators/sampling.py):
    hash_sample keeps the rows whose md5 draw < 0.6, split_column then
    assigns each survivor to exactly one split by hash range — both pure
    column functions of the key (no shuffle, identical row set under any
    partitioning/engine). Oracle: the same md5 arithmetic in DuckDB
    (portable conv-of-md5-prefix hash pair). Split fractions are exact
    binary floats so the range edges are bit-identical across engines."""
    from modlyn_spark.operators.sampling import hash_sample, split_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    kept = hash_sample(docs, ["doc_id"], 0.6, salt="s1")
    return split_column(
        kept, ["doc_id"], {"train": 0.5, "val": 0.25, "test": 0.25}, salt="r4"
    )


def q_minhash_contamination(spark, sf_dir):
    """CROSS-corpus benchmark-contamination check (dedup.py
    minhash_contamination): probe = every 10th document, corpus = the
    full table; banded MinHash join BETWEEN the tables only, est-Jaccard
    prefilter, exact packed-shingle verify. Output = the exact cross
    3-gram-Jaccard pair set at the threshold (self-pairs included: each
    probe doc is its own contamination at jaccard 1.0); a hash mismatch
    means the cross-banding dropped a true pair."""
    from modlyn_spark.operators.dedup import minhash_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe = docs.where(F.col("doc_id") % 10 == 0)
    out = minhash_contamination(docs, probe, "doc_id", "text", threshold=0.8)
    return out.select(
        "corpus_id", "probe_id", F.round("jaccard", 4).alias("jaccard")
    )


def q_span_contamination(spark, sf_dir):
    """CROSS-corpus verbatim-span contamination (spans.py): probe = every
    10th document offset by 5; winnowed-fingerprint join between the
    tables, exact 8-token-gram verify on candidates. Equality with the
    oracle (the FULL cross K-gram inverted-index join) machine-checks the
    winnowing recall theorem on the cross-corpus path."""
    from modlyn_spark.operators.spans import span_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe = docs.where(F.col("doc_id") % 10 == 5)
    return span_contamination(docs, probe, "doc_id", "text", span_tokens=8)


def q_curation_pipeline(spark, sf_dir):
    """The composed training-data pipeline (plans/curation.py
    curate_corpus) — the product surface a curation platform actually
    calls: exact dedup -> near-dup removal -> quality/lang annotation +
    quality gate -> leak-free hash split. near_dup_mode='pairs' (drop
    every doc with a smaller-id verified near-dup neighbor) makes the
    whole pipeline banding-independent and hence expressible as ONE
    DuckDB SQL oracle; split fractions are exact binary floats."""
    from modlyn_spark.plans.curation import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curate_corpus(
        docs,
        min_quality=0.3,
        near_dup_threshold=0.8,
        near_dup_mode="pairs",
        splits={"train": 0.5, "val": 0.25, "test": 0.25},
        salt="r4",
    )
    return out.select(
        "doc_id",
        "lang_pred",
        F.round("quality", 4).alias("quality"),
        "split",
    )


def q_early_termination(spark, sf_dir):
    """Reference M6 (modlyn/models/_simple_logreg_model.py:120-123,
    162-167): the max_steps bound stops training mid-epoch. Identical
    config to q_logreg_weights except max_steps=5 (vs 8) — the fixture
    oracle is the INDEPENDENT numpy twin truncated at step 5, and it
    differs from the 8-step weights (asserted in the pytest contract), so
    this row proves the bound binds and the truncated state matches."""
    from modlyn_spark.scoring.logreg import DistributedLogReg, assign_batches
    from modlyn_spark.scoring.stats import label_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr(
        "vec_id", "cast(label as string) as label", "embedding as features"
    )
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["vec_id"], 4)
    model = DistributedLogReg(64, classes).fit(enc, max_steps=5, n_batches=4)
    return model.weights_long(spark).select(
        "label", "pos", F.round("weight", 6).alias("weight")
    )


def q_regpath_weights(spark, sf_dir):
    """Regularization-path sweep (scoring/regpath.py): L=4 weight-decay
    values trained SIMULTANEOUSLY — one stacked (L*k, d) GEMM per Arrow
    batch per step, so the data passes once instead of L times (the
    reference fixes wd=1e-2 at ctor, modlyn/models/_simple_logreg_model.py:
    35-38, and would re-run fit() per value). Oracle: the independent numpy
    twin run once PER lambda and concatenated — equality proves the fused
    sweep reproduces L standalone trainings exactly."""
    from modlyn_spark.scoring.logreg import assign_batches
    from modlyn_spark.scoring.regpath import RegPathLogReg
    from modlyn_spark.scoring.stats import label_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr(
        "vec_id", "cast(label as string) as label", "embedding as features"
    )
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["vec_id"], 4)
    model = RegPathLogReg(64, classes, [0.001, 0.01, 0.1, 1.0]).fit(
        enc, max_steps=8, n_batches=4
    )
    return model.weights_long(spark).select(
        "lam", "label", "pos", F.round("weight", 6).alias("weight")
    )


def q_ridge_tstats(spark, sf_dir):
    """One-pass closed-form ridge with per-feature t-statistics
    (scoring/ridge.py): sufficient statistics (A'A, A'y, y'y, n)
    accumulate per partition with one GEMM per Arrow batch, tree-combine
    executor-side, and the driver solves the 65x65 system — continuous-
    target feature scoring with NO iterative training (complements the
    reference's per-class F-stat, modlyn/_scoring.py). Oracle: the direct
    single-node closed form assembled as one dense numpy block."""
    from modlyn_spark.scoring.ridge import ridge_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        F.col("embedding").cast("array<double>").alias("features"),
        F.col("label").cast("double").alias("y"),
    )
    res = ridge_fit(df, "features", "y", alpha=1.0)
    return res.coefficients_df(spark).select(
        "pos",
        F.round("beta", 6).alias("beta"),
        F.round("t_stat", 4).alias("t_stat"),
    )


def q_cv_weights(spark, sf_dir):
    """Fold-parallel CV training (scoring/cv.py): 3 leave-one-fold-out
    models trained SIMULTANEOUSLY — per step one stacked (F*k, d) GEMM
    plus a per-model visibility mask, so K-fold CV costs ONE data pass
    instead of K (the reference re-runs fit() per split,
    modlyn/models/_simple_logreg_model.py:120-123). Oracle: the
    independent numpy twin run once per fold on the fold-filtered rows."""
    from modlyn_spark.scoring.cv import CVLogReg, assign_folds
    from modlyn_spark.scoring.logreg import assign_batches
    from modlyn_spark.scoring.stats import label_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.selectExpr(
        "vec_id", "cast(label as string) as label", "embedding as features"
    )
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["vec_id"], 4)
    enc = assign_folds(enc, ["vec_id"], 3)
    model = CVLogReg(64, classes, 3).fit(enc, max_steps=8, n_batches=4)
    return model.weights_long(spark).select(
        "fold", "label", "pos", F.round("weight", 6).alias("weight")
    )


def q_mrmr_selection(spark, sf_dir):
    """Paper-faithful mRMR feature selection (Peng 2005 MID,
    scoring/selection.py:mrmr_select): relevance = MI(feature; label),
    redundancy = PAIRWISE feature MI (same nats scale — a |corr|
    redundancy can let low-MI noise outrank correlated signal), both
    from tree-combined integer joint-histogram tensors (one Arrow pass
    each, nothing row-shaped moves); the greedy re-scoring loop runs on
    the driver over the d + d(d-1)/2 collected rows. Oracle: single-node
    bincount twin + an inline reimplementation of the greedy."""
    from modlyn_spark.scoring.selection import (
        mrmr_select,
        mutual_information,
        pairwise_mutual_information,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        F.col("embedding").cast("array<double>").alias("features"),
        F.col("label").cast("string").alias("label"),
    )
    mi = mutual_information(df, "features", "label", bins=10)
    pmi = pairwise_mutual_information(df, "features", bins=10)
    sel = mrmr_select(mi, pmi, 10)
    out = spark.createDataFrame(sel)
    return out.select(
        "rank",
        "pos",
        F.round("relevance", 6).alias("relevance"),
        F.round("redundancy", 6).alias("redundancy"),
        F.round("score", 6).alias("score"),
    )


def _kaplan_meier_oracle() -> str:
    """DuckDB twin of q_kaplan_meier: the shared ANSI formulation over
    the same per-user duration/event aggregate, rounded like the query."""
    from modlyn_spark.operators.survival import kaplan_meier_sql

    per_user = """(
        SELECT user_id,
               round(epoch(max(ts)) - epoch(min(ts)), 1) AS duration,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        FROM events GROUP BY user_id
    )"""
    km = kaplan_meier_sql("duration", "ev", per_user)
    return f"""
        SELECT duration,
               CAST(n_at_risk AS BIGINT) AS n_at_risk,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(n_censored AS BIGINT) AS n_censored,
               round(survival, 6) AS survival,
               round(greenwood_se, 6) AS greenwood_se
        FROM ({km})
        ORDER BY duration
    """


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival over per-user event histories
    (operators/survival.py): duration = first-to-last-event span, event =
    the user ever purchased (else right-censored). One map-side-combinable
    groupBy collapses subjects to distinct durations; at-risk counts,
    the product-limit curve and Greenwood SEs come from one ordered
    window over that histogram-sized timeline (round_to=1 buckets the
    timeline by contract). Oracle: the IDENTICAL ANSI formulation
    (kaplan_meier_sql) run by DuckDB — a real SQL oracle, no fixture."""
    from modlyn_spark.operators.survival import kaplan_meier

    ev = _events(spark, sf_dir)
    from modlyn_spark.operators.windows import _epoch

    per_user = ev.groupBy("user_id").agg(
        (F.max(_epoch(F.col("ts"))) - F.min(_epoch(F.col("ts")))).alias(
            "duration"
        ),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("ev"),
    )
    out = kaplan_meier(per_user, "duration", "ev", round_to=1)
    return out.select(
        "duration",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.round("survival", 6).alias("survival"),
        F.round("greenwood_se", 6).alias("greenwood_se"),
    )


# ---------------------------------------------------------------------------
# round-5 rotation (VERDICT r4 "Next round" #2): the 50 driver slots move
# off near-duplicate variants and onto the round-4 analytics tier. Each
# name below is flipped between the live and retired maps by _rotate_r5();
# the *_base functions keep every query and oracle definition in one
# place so a rotation is one list edit, not a 6x2 dict surgery.
#   demoted (live -> retired; the operator each one witnesses stays green
#   in another live row): tpch_q3_top_orders (J3 join shapes still gated
#   by tpch_q1 + tpch_q5_region_revenue), json_props / value_percentiles
#   (single-expression ops; percentile profiling is first-class inside
#   the promoted table_profile row), asof_join_tolerance (bounded
#   staleness — same merge kernel as the live asof_join_merge +
#   training_set rows; plans pinned in tests/test_asof.py), ann_ivf_topk
#   (ANN stays witnessed by ann_cosine_topk + pq_topk), predictions
#   (M3 argmax is recomputed inside the live classification_report row).
#   promoted (retired -> live): table_profile, expectations,
#   heavy_hitters, pagerank_hosts, bootstrap_ci, dataset_report.
# ---------------------------------------------------------------------------
_R5_DEMOTED = [
    "tpch_q3_top_orders",
    "json_props",
    "value_percentiles",
    "asof_join_tolerance",
    "ann_ivf_topk",
    "predictions",
    # second r5 wave: W-family keeps session_stats + rolling_range_window
    # live; lag/lead and backfill stay fully mirror-gated. tpch_q5 and
    # wilcoxon are the third witnesses of J3 / N2 respectively.
    "lag_lead_delta",
    "backfill",
    "tpch_q5_region_revenue",
    "wilcoxon_scores",
    # third r5 wave: pq_topk stays as the ANN witness (ann_cosine_topk
    # is its brute-force sibling); minhash_contamination stays as the
    # cross-corpus witness (span_contamination is the span-level
    # sibling). Both demotions remain fully oracle-gated in the mirror.
    "ann_cosine_topk",
    "span_contamination",
    # fourth r5 wave: N2 per-feature scoring stays witnessed by the live
    # class_feature_stats row (wilcoxon already mirror); the exact
    # n-gram-Jaccard pair index stays exercised inside the live
    # curation_pipeline row's full DuckDB oracle; the as-of merge kernel
    # stays live inside training_set + history_features.
    "f_statistic",
    "ngram_jaccard_pairs",
    "asof_join_merge",
    # fifth r5 wave: W3 sessionization stays witnessed by the live
    # stream_session_stats row (pytest asserts stream == batch); the
    # near-dup family keeps five live witnesses (minhash, simhash,
    # components, semdedup, incremental_dedup) — the embedding-LSH
    # variant stays fully mirror-gated.
    "session_stats",
    "embedding_dup_pairs",
    # sixth r5 wave: M6's step bound stays proven by the pytest contract
    # (the truncated fixture differs from the 8-step one) and the mirror;
    # its slot funds the regularization-path sweep, which exercises the
    # SAME trainer kernel at four weight decays in one fused pass.
    "early_termination",
    # seventh r5 wave: C4 chunk dedup stays exercised inside the live
    # curation_pipeline row's full DuckDB oracle (its boilerplate stage);
    # its slot funds the closed-form ridge t-stat scorer. SimHash rotates
    # to the mirror (the near-dup family keeps minhash-LSH, components,
    # semdedup and incremental_dedup live); its slot funds the
    # fold-parallel CV trainer.
    "corpus_chunk_dedup",
    "dedup_simhash",
    # eighth r5 wave: per-source quality rollup stays witnessed by the
    # live dataset_report row (the data card aggregates the same per-
    # source quality surface) and the mirror; its slot funds the
    # Kaplan-Meier survival curve. Deterministic hash splitting stays
    # witnessed by the live weighted_take row (same pure-hash-draw
    # machinery) and the mirror; its slot funds mRMR selection.
    "source_quality_rollup",
    "hash_split",
]
_R5_PROMOTED = [
    "table_profile",
    "expectations",
    "heavy_hitters",
    "pagerank_hosts",
    "bootstrap_ci",
    "dataset_report",
    # second r5 wave: the feature-store / analytics operators a platform
    # user calls weekly, all mirror-green at the gate SF before promotion
    "history_features",
    "golden_records",
    "attribution",
    "weighted_take",
    # third r5 wave: image-batch geometry + per-entity drift monitoring
    "aspect_buckets",
    "cusum_changepoints",
    # fourth r5 wave: the training-dynamics curation tier — cartography
    # map, confident-learning label audit, webdataset shard layout
    # (acquisition_scores and class_weights stay mirror-gated)
    "dataset_cartography",
    "label_errors",
    "shard_plan",
    # fifth r5 wave: the augmentation-plan + curriculum layer that
    # consumes the dynamics scores (cutmix_plan and data_diet stay
    # mirror-gated)
    "mixup_plan",
    "curriculum_plan",
    # sixth r5 wave: the fused L-lambda regularization path (fixture
    # oracle = L independent single-model numpy twins)
    "regpath_weights",
    # seventh r5 wave: one-pass closed-form ridge t-stats (fixture
    # oracle = the dense single-node closed form) + fold-parallel CV
    # (fixture oracle = F independent fold-filtered twin runs)
    "ridge_tstats",
    "cv_weights",
    # eighth r5 wave: product-limit survival (identical-ANSI SQL oracle)
    # + paper-faithful mRMR (fixture oracle = single-node bincount twin)
    "kaplan_meier",
    "mrmr_selection",
]


def _rotate_r5(live: dict, retired: dict) -> tuple[dict, dict]:
    """Move the round-5 rotation names between the two contract maps.

    Promoted entries append at the END of the live map (the flagship
    stays pinned first); demoted entries append at the end of the
    retired map. Raises KeyError if a name is missing — a rotation typo
    fails at import, not silently at the driver."""
    for name in _R5_DEMOTED:
        retired[name] = live.pop(name)
    for name in _R5_PROMOTED:
        live[name] = retired.pop(name)
    return live, retired


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The 50 driver-gated queries (dict order; flagship first)."""
    return _rotate_r5(_queries_base(), _retired_queries_base())[0]


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Retired (mirror-gated) queries: every entry still runs against its
    full DuckDB oracle in the pytest contract and
    ``scripts/driver_mirror.py --retired`` — it just doesn't spend one of
    the driver's 50 slots."""
    return _rotate_r5(_queries_base(), _retired_queries_base())[1]


def oracle_sql() -> dict[str, str]:
    """DuckDB oracles for queries(), same keys."""
    return _rotate_r5(_oracle_sql_base(), _retired_oracle_sql_base())[0]


def retired_oracle_sql() -> dict[str, str]:
    """DuckDB oracles for retired_queries(), same keys."""
    return _rotate_r5(_oracle_sql_base(), _retired_oracle_sql_base())[1]


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "image_pipeline": q_image_pipeline,
        "tpch_q1": q_tpch_q1,
        "tpch_q3_top_orders": q_tpch_q3_top_orders,
        "tpch_q5_region_revenue": q_tpch_q5_region_revenue,
        "repetition_signals": q_repetition_signals,
        "span_dup_pairs": q_span_dup_pairs,
        "value_percentiles": q_value_percentiles,
        "json_props": q_json_props,
        "filter_min_class_freq": q_filter_min_class_freq,
        "asof_join_merge": q_asof_join_merge,
        # r4 third-session rotation: label_encode (E1, green inside the
        # stats/logreg rows) retires for the feature-store assembly op
        "training_set": q_training_set,
        "asof_join_tolerance": q_asof_join_tolerance,
        "rolling_range_window": q_rolling_range_window,
        "lag_lead_delta": q_lag_lead_delta,
        "session_stats": q_session_stats,
        "backfill": q_backfill,
        "pivot_event_counts": q_pivot_event_counts,
        # round-4 rotation: the curation surface takes the slots of
        # single-expression entries whose operators stay green inside
        # bigger queries (see retired_queries())
        "corpus_chunk_dedup": q_corpus_chunk_dedup,
        "source_quality_rollup": q_source_quality_rollup,
        "hash_split": q_hash_split,
        "minhash_contamination": q_minhash_contamination,
        "span_contamination": q_span_contamination,
        "curation_pipeline": q_curation_pipeline,
        "early_termination": q_early_termination,
        "class_feature_stats": q_class_feature_stats,
        "f_statistic": q_f_statistic,
        "wilcoxon_scores": q_wilcoxon_scores,
        "topn_jaccard": q_topn_jaccard,
        "cdc_apply": q_cdc_apply,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_components": q_dedup_components,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "pq_topk": q_pq_topk,
        "interval_join": q_interval_join,
        "fuzzy_linkage": q_fuzzy_linkage,
        "kmeans_clusters": q_kmeans_clusters,
        # round-4 late rotation: five more thin slots (anti_join_orphans,
        # topk_per_group, rolling_stats, token_count, doc_fingerprint —
        # each subsumed by bigger green queries) go to this session's new
        # first-class curation operators
        "image_curation": q_image_curation,
        "semdedup": q_semdedup,
        "quality_classifier": q_quality_classifier,
        "pii_scrub": q_pii_scrub,
        "incremental_dedup": q_incremental_dedup,
        "logreg_weights": q_logreg_weights,
        "predictions": q_predictions,
        "classification_report": q_classification_report,
        "checkpoint_lineage": q_checkpoint_lineage,
        "stream_session_stats": q_stream_session_stats,
    }


def q_source_quality_rollup(spark, sf_dir):
    """Per-source curation decision table (plans/curation.py
    source_quality_rollup): doc count, within-source exact-dup fraction,
    mean quality and length — one map-side-combinable groupBy of codegen
    column expressions. Oracle: the same aggregates in DuckDB over the
    shared quality/fingerprint formulas."""
    from modlyn_spark.plans.curation import source_quality_rollup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_quality_rollup(docs)


# The external driver evaluates AT MOST 50 queries() entries in dict order:
# round 2 registered 51 and CORRECTNESS_r02.json contains exactly the first
# 50 — the 51st (image_pipeline, the north-star D1 query) silently got no
# row. The contract therefore (a) pins the flagship first and (b) stays at
# exactly 50 entries. Redundant VARIANTS of already-gated operators retire
# here: they remain fully functional and pytest-gated (the contract test
# and scripts/driver_mirror.py --retired run both maps), they just don't
# spend driver slots. Retired, with the entry that still covers the
# operator: tpch_q6 (filter+agg — tpch_q1), tpch_q12 / q4 / q10
# (join+conditional-agg shapes — tpch_q1/q3/q5 + filter_min_class_freq),
# asof_join (the plain as-of join; asof_join_merge runs the same one plan
# with the hot-key split and asof_join_tolerance adds the bounded-staleness
# mask — plan asserted in tests/test_asof.py), dedup_groups (exact-dup grouping
# — dedup_exact gates the same fingerprint operator on a corpus with zero
# dup groups), filter_isin / limit_slice / log1p / groupby_count /
# global_minmax (single-expression operators exercised inside the green
# tpch_q1/q3/q5, flagship and label_encode rows — rotated out in r4 for
# the curation surface), sessionize (the identical window-sum session
# assignment is recomputed inside the green session_stats and
# stream_session_stats rows).
def q_pca_projection(spark, sf_dir):
    """Distributed PCA (operators/pca.py): covariance partials via one
    GEMM per Arrow batch, executor-side tree combine, driver eigh,
    sign-fixed basis; projection = one (batch x d) @ (d x k) GEMM.
    Oracle: fixture from the single-node numpy twin of the same moment
    path (SF-bound like kmeans). round(3) absorbs the partial-order
    float drift while pinning the basis to ~1e-3."""
    from modlyn_spark.operators.pca import pca_fit, pca_transform

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    model = pca_fit(df, "v", 4)
    out = pca_transform(df, "v", model, out_col="p")
    return out.select(
        "vec_id", *[F.round(F.col("p")[i], 3).alias(f"p{i}") for i in range(4)]
    )


def q_stratified_take(spark, sf_dir):
    """Deterministic per-stratum reservoir (operators/sampling.py
    stratified_take): exactly n rows per label by smallest md5 draw, with
    the skew-safe approximate hash-threshold pre-filter in front of the
    exact window. Oracle: the same md5 row_number in DuckDB — equality
    also machine-checks that the pre-filter never drops a selected row."""
    from modlyn_spark.operators.sampling import stratified_take

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = stratified_take(
        emb.select("vec_id", "label"), "label", 7, ["vec_id"]
    )
    return out.select("vec_id", F.col("label").cast("string").alias("label"))


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence-packing layout (operators/packing.py): shard by
    portable md5 hash, concatenate documents in id order, slice at
    seq_len — computed as metadata (per-doc shard/start/seq/offset/span)
    with one per-shard window. Oracle: the identical running-sum
    arithmetic in DuckDB."""
    from modlyn_spark.functions.text import token_count
    from modlyn_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, "doc_id", "n_tokens", seq_len=512, shards=8)


def q_source_mix(spark, sf_dir):
    """Domain mixing (operators/sampling.py source_mix_plan +
    apply_source_mix): uniform weights over the observed sources, token
    budget 10k — each source keeps min(1, target/available) of its rows
    by md5 draw. Oracle recomputes the identical double arithmetic and
    hash filter in DuckDB; row-set equality checks plan AND application."""
    from modlyn_spark.functions.text import token_count
    from modlyn_spark.operators.sampling import (
        apply_source_mix,
        source_mix_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    plan = source_mix_plan(docs, "source", "n_tokens", token_budget=10_000)
    return apply_source_mix(docs, plan, "source", ["doc_id"], salt="m1").select(
        "doc_id", "source"
    )


def q_unigram_logprob(spark, sf_dir):
    """Corpus unigram-LM quality scoring (operators/lm.py) — the
    perplexity-style curation signal (CCNet family): per-doc average
    token log-probability under add-1-smoothed corpus unigram counts.
    Tokenize-explode + one count groupBy + token join + per-doc avg, all
    codegen; oracle = the identical arithmetic in DuckDB."""
    from modlyn_spark.operators.lm import unigram_doc_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_doc_logprob(docs, "doc_id", "text").selectExpr(
        "doc_id", "n_tokens", "round(avg_logprob, 6) AS avg_logprob"
    )


def q_hash_hamming_pairs(spark, sf_dir):
    """Generic int64 hamming near-dup join (dedup.py hash_hamming_pairs —
    the image-phash dedup modality, driven on a portable 60-bit
    md5-derived hash so DuckDB can brute-force the SAME column). Each doc
    also contributes a planted twin: even ids at hamming 1 (IN radius —
    must all be recalled through the banding), odd ids at hamming 6 (OUT
    of radius 4 — must all be excluded by the exact verify). Oracle = the
    exact all-pairs hamming join, so equality machine-checks the
    pigeonhole recall theorem AND the radius filter on every planted
    pair, plus any random collisions."""
    from modlyn_spark.operators.dedup import hash_hamming_pairs

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    mask = F.when(
        F.col("doc_id") % 2 == 0,
        # python shiftleft() wants a literal bit count; the SQL form
        # accepts a column expression
        F.expr("shiftleft(cast(1 as bigint), cast(doc_id % 60 as int))"),
    ).otherwise(F.lit(0x111111).cast("long"))
    twins = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.col("h").bitwiseXOR(mask).alias("h"),
    )
    return hash_hamming_pairs(
        base.unionByName(twins), "doc_id", "h", max_hamming=4
    )


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py): corpus
    collapses to the distinct-word table once, then each merge iteration
    is one pre-aggregated pair-count pass + argmax + one vocabulary
    rewrite. Integer counts and a deterministic tie-break make the merge
    table bit-identical at any parallelism; the oracle fixture is the
    single-node Sennrich twin (SF-bound like logreg/kmeans)."""
    from modlyn_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, "text", num_merges=40)
    return spark.createDataFrame(merges.astype({"rank": "int64"}))


def q_history_features(spark, sf_dir):
    """Point-in-time last-N history features (operators/history.py): for
    every 10th event as a probe, the user's 5 most recent event values at
    or before the probe timestamp, most-recent-first — built as ONE
    rolling window over the event stream + the engine's single-shuffle
    as-of join (never a probe x event join), then exploded to (probe, pos,
    value) rows so the driver's value hash sees scalars. Oracle: the
    brute-force rank in DuckDB — equality proves both the window frame
    and the zero-leakage cutoff on every probe."""
    from modlyn_spark.operators.history import (
        explode_history,
        history_features,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ev.where("event_id % 10 = 3").select(
        "event_id", "user_id", F.col("ts").alias("fts")
    )
    out = history_features(
        probes,
        ev.select("user_id", "ts", "event_id", "value"),
        "user_id",
        probe_ts="fts",
        event_ts="ts",
        value_cols=["value"],
        n=5,
        seq_col="event_id",
    )
    return explode_history(
        out, ["hist_value"], keep_cols=["event_id"]
    ).select(
        "event_id",
        "pos",
        F.round(F.col("hist_value"), 6).alias("value"),
    )


def q_golden_records(spark, sf_dir):
    """Survivorship golden records (operators/survivorship.py): collapse
    each user's event history to one canonical row — latest non-null
    value (by ts, event_id), modal event_type (count desc, value asc),
    min event_id as the canonical identity — all but the mode inside ONE
    map-side-combinable groupBy. Oracle: deterministic window twins of
    each rule in DuckDB."""
    from modlyn_spark.operators.survivorship import golden_records

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = golden_records(
        ev,
        "user_id",
        "event_id",
        {"value": "latest", "event_type": "most_common"},
        order_col="ts",
    )
    return out.select(
        "user_id",
        "canonical_id",
        "n_records",
        F.round(F.col("value"), 6).alias("value"),
        "event_type",
    )


def q_attribution(spark, sf_dir):
    """U-shaped multi-touch attribution (operators/attribution.py):
    every purchase distributes credit 1.0 over the user's click/view
    touches in the preceding 24h — pairing via the bucketized interval
    join (each lookback interval lands in <= 2 buckets), credit via one
    window per conversion. Oracle: the same pairing + credit CASE in
    DuckDB; equality also machine-checks the [lo, hi) boundary on every
    pair."""
    from modlyn_spark.operators.attribution import attribute_conversions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("event_id").alias("tid"), "ts"
    )
    convs = ev.where("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    out = attribute_conversions(
        touches,
        convs,
        "user_id",
        touch_id="tid",
        conv_id="cid",
        touch_ts="ts",
        conv_ts="cts",
        lookback_s=86400.0,
        model="position_based",
    )
    return out.select(
        "cid", "tid", "pos", "n_touches",
        F.round(F.col("credit"), 6).alias("credit"),
    )


def q_agg_maintainer(spark, sf_dir):
    """Streaming aggregate maintenance (streaming/aggregates.py): replay
    three snapshot generations of an orders-derived table through the
    versioned foreachBatch maintainer (batch i = snapshot_diff(S_{i-1},
    S_i, include_old=True); batch 0 bootstraps from empty) and return the
    final maintained state. Each S_i is a pure function of orders
    (membership rotates by o_orderkey % 3, every 5th key's value steps by
    11 per generation), so the oracle is a plain GROUP BY over S_2 —
    equality proves three rounds of retraction algebra INCLUDING the
    exactly-once versioned-state read/write path. State dir is derived
    from sf_dir (per-SF isolation); batch N overwrites its own output, so
    reruns are idempotent by construction."""
    import hashlib

    from modlyn_spark.operators.cdc import snapshot_diff
    from modlyn_spark.streaming.aggregates import (
        agg_maintainer,
        read_agg_state,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")

    def snap(i: int):
        v = (k % 100).cast("long") + F.when(
            k % 5 == 0, F.lit(11 * i)
        ).otherwise(F.lit(0)).cast("long")
        return orders.where(k % 3 != i).select(
            k.alias("k"),
            F.col("o_orderpriority").alias("g"),
            F.when(k % 17 == 0, F.lit(None).cast("long")).otherwise(v).alias("v"),
        )

    state_dir = (
        "/tmp/modlyn_agg_state/"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    )
    import shutil

    # fresh replay: stale versions from an interrupted earlier run must
    # not be readable as "the latest below 3"
    shutil.rmtree(state_dir, ignore_errors=True)
    step = agg_maintainer(state_dir, "g", "v")
    prev = snap(0).where("1 = 0")
    for i in range(3):
        cur = snap(i)
        step(snapshot_diff(prev, cur, "k", include_old=True), i)
        prev = cur
    state = read_agg_state(spark, state_dir, before=3)
    return state.select(
        "g", "n", "nn_v", F.col("sum_v").cast("long").alias("sum_v")
    )


def q_collocations(spark, sf_dir):
    """PMI/NPMI collocation table (operators/lm.py:collocations): the
    phrase detector over the corpus's adjacent word pairs, with every
    probability in the bigram sample space (positional marginals) so
    npmi is strictly in (-1, 1]. One tokenize + groupBy feeds the pair
    table; marginals/total derive from it. Oracle: the full formula
    replicated over DuckDB's list_zip bigrams."""
    from modlyn_spark.operators.lm import collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = collocations(docs, "text", min_count=5)
    return out.select(
        "w1",
        "w2",
        "n_pair",
        "n_w1",
        "n_w2",
        F.round("pmi", 6).alias("pmi"),
        F.round("npmi", 6).alias("npmi"),
    )


def q_decayed_features(spark, sf_dir):
    """Exponentially-decayed point-in-time counters
    (operators/decay.py): every 10th event is a probe that sees its
    user's PAST events weighted 0.5^(age/1day) over the 20 complete
    buckets before its own — the engine factorizes that into
    per-(user, bucket) partials + two equi-joins (O(events + probes));
    the oracle is the UN-factorized probe x in-window-event join, so
    equality proves the factorization and the own-bucket exclusion on
    every probe."""
    from modlyn_spark.operators.decay import decayed_features

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ev.where("event_id % 10 = 7").select(
        "event_id", "user_id", F.col("ts").alias("fts")
    )
    out = decayed_features(
        probes,
        ev.select("user_id", "ts", "value"),
        "user_id",
        probe_ts="fts",
        event_ts="ts",
        value_cols=["value"],
        half_life=86400.0,
    )
    return out.select(
        "event_id",
        F.round("decay_n", 6).alias("decay_n"),
        F.round("decay_value", 6).alias("decay_value"),
    )


def q_time_folds(spark, sf_dir):
    """Purged temporal CV folds with a 12h embargo
    (operators/folds.py): fold boundaries are exact timestamp quartiles
    from ONE aggregate (F.percentile == quantile_cont parity), roles are
    stateless arithmetic on the k-exploded rows. Oracle: the same
    quartiles + CASE role logic in DuckDB — equality machine-checks the
    test/purged/train boundary on all 40k (row, fold) pairs."""
    from modlyn_spark.operators.folds import time_folds

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts"
    )
    out = time_folds(ev, "ts", n_folds=4, embargo=43200.0)
    return out.select(
        "event_id", F.col("fold").cast("long").alias("fold"), "role"
    )


def q_future_labels(spark, sf_dir):
    """Future-window training labels (operators/targets.py): for every
    10th event as a probe, the count / value-sum / distinct-type count
    of the user's events in (t+1h, t+1h+3d] — the label side of the
    leakage-free training set (gap = deployment delay; the probe's own
    instant is excluded). Built on the bucketized interval join; the
    oracle is the direct range join + GROUP BY, so equality proves the
    window algebra AND both boundary closures per probe."""
    from modlyn_spark.operators.targets import future_labels

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ev.where("event_id % 10 = 1").select(
        "event_id", "user_id", F.col("ts").alias("fts")
    )
    out = future_labels(
        probes,
        ev.select("user_id", "ts", "value", "event_type"),
        "user_id",
        probe_ts="fts",
        event_ts="ts",
        horizon=259200.0,
        gap=3600.0,
        aggs={
            "label_n": ("count", None),
            "label_sum": ("sum", "value"),
            "label_types": ("nunique", "event_type"),
        },
    )
    return out.select(
        "event_id",
        "label_n",
        F.round("label_sum", 6).alias("label_sum"),
        "label_types",
    )


def q_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift (scoring/drift.py):
    did the value distribution move between click and purchase events —
    computed EXACTLY from the distinct-value histogram (one groupBy +
    one per-feature cumulative window), two features through the melt.
    Oracle: the same histogram-CDF construction in DuckDB."""
    from modlyn_spark.scoring.drift import ks_2sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = ev.select(
        "event_type", "value", F.abs(F.col("value")).alias("abs_value")
    )
    out = ks_2sample(
        src, ["value", "abs_value"], "event_type", "click", "purchase"
    )
    return out.select(
        "feature", "n_a", "n_b", F.round("d_stat", 6).alias("d_stat")
    )


def q_aspect_buckets(spark, sf_dir):
    """Aspect-ratio bucketing (operators/aspect.py): hash-free synthetic
    image dims from p_partkey -> SDXL-style ladder assignment (argmin by
    exact-IEEE cross-ratio via array_min struct ordering — ONE codegen
    expression, zero joins/shuffles) + cover-resize/center-crop
    geometry. Oracle: the same ladder as an inline VALUES relation with
    a row_number argmin — equality proves both the distance arithmetic
    and the (dist, -area, bw, bh) tie policy."""
    from modlyn_spark.operators.aspect import assign_aspect_buckets

    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("img"),
        (160 + (F.col("p_partkey") * 7) % 3841).alias("w"),
        (120 + (F.col("p_partkey") * 13) % 2161).alias("h"),
    )
    out = assign_aspect_buckets(part)
    return out.select(
        "img", "w", "h",
        "bucket_w", "bucket_h",
        F.round("bucket_scale", 8).alias("scale"),
        F.col("bucket_rw").alias("rw"),
        F.col("bucket_rh").alias("rh"),
        F.col("bucket_crop_x").alias("crop_x"),
        F.col("bucket_crop_y").alias("crop_y"),
    )


def q_cusum_changepoints(spark, sf_dir):
    """Per-user CUSUM drift scores (operators/changepoints.py): the
    sequential max(0,·) recurrence rewritten as prefix-sum minus
    running-extremum — pure ordered-window algebra, ONE shuffle.
    Oracle: the identical closed form in DuckDB with an explicit ROWS
    frame; prefix sums accumulate in the same total (ts, event_id)
    order so even the float stream is engine-identical."""
    from modlyn_spark.operators.changepoints import cusum_scores

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    out = cusum_scores(
        ev, "user_id", ["ts", "event_id"], "value",
        target=50.0, slack=10.0, threshold=500.0,
    )
    return out.select(
        "event_id",
        F.round("cusum_pos", 6).alias("cusum_pos"),
        F.round("cusum_neg", 6).alias("cusum_neg"),
        "is_alarm",
    )


def q_oversample_plan(spark, sf_dir):
    """LVIS repeat-factor oversampling plan (operators/balance.py):
    per-language repeat factor max(1, sqrt(t/f_lang)), hash-rounded to
    an exact per-doc copy count, materialized via explode(sequence) —
    a map-side expansion, no data-sized shuffle. Oracle: the same
    formulas + the portable md5 draw + generate_series in DuckDB."""
    from modlyn_spark.operators.balance import oversample_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    out = oversample_plan(docs, ["doc_id"], "lang", threshold=0.3)
    return out.select(
        "doc_id", "lang",
        F.round("repeat_factor", 8).alias("repeat_factor"),
        F.col("copy_idx").cast("long").alias("copy_idx"),
    )


def q_fleiss_kappa(spark, sf_dir):
    """Inter-annotator agreement (operators/agreement.py): Fleiss'
    kappa treating each order's lineitems as raters of the order's
    return outcome — groupBy(item,label) -> same-key re-aggregate, ONE
    data-sized shuffle, ONE output row. Oracle: the published formulas
    as plain GROUP BY SQL (round(6) absorbs partial-agg float order)."""
    from modlyn_spark.operators.agreement import fleiss_kappa

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("item"),
        F.col("l_returnflag").alias("label"),
    )
    return fleiss_kappa(li, "item", "label", ndigits=6)


def q_quantize_embeddings(spark, sf_dir):
    """Per-vector int8 scalar quantization (functions/quantize.py):
    affine codes + reconstruction MSE as pure JVM array HOFs — zero
    shuffle, zero Python, explicit floor(u+0.5) rounding so every step
    is an exactly-rounded IEEE op both engines share. Oracle: the same
    codec via list_transform/list_aggregate in DuckDB."""
    from modlyn_spark.functions.quantize import quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = quantize_embeddings(emb, "embedding")
    return out.select(
        "vec_id",
        F.col("q_codes").alias("codes"),
        F.col("q_min").alias("minv"),
        F.col("q_scale").alias("scale"),
        F.col("q_mse").alias("mse"),
    )


def q_prototype_margins(spark, sf_dir):
    """Embedding-space label-error detection (operators/prototypes.py):
    per-class mean prototypes (ONE melt shuffle, components rounded at
    1e-9 to re-pin float determinism) collected into literal unit
    vectors, then cosine-to-own minus best-other margin as a pure
    column expression — the scoring pass has zero joins/shuffles/Python
    (plan-asserted in pytest). Oracle: the identical centroid + cosine
    arithmetic via DuckDB list lambdas; margins rounded at 8 (the dot
    folds are the one engine-internal reduction)."""
    from modlyn_spark.operators.prototypes import prototype_margins

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    out = prototype_margins(emb, "label", "embedding")
    return out.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.round("proto_margin", 8).alias("proto_margin"),
        "nearest_other",
        "is_mislabel_candidate",
    )


def q_stream_cusum(spark, sf_dir):
    """STREAMING CUSUM (streaming/changepoints.py): replay the events
    table through a real availableNow stream into the stateful
    applyInPandasWithState detector and return the memory-sink table.
    The oracle is the BATCH closed form as SQL — equality proves the
    incremental (S, min S, max S') state fold IS the window algebra,
    through the actual streaming runtime. Source is coalesced to one
    file (in-order arrival per the operator's ordering contract)."""
    import hashlib
    import shutil

    from modlyn_spark.streaming.changepoints import stream_cusum

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    src_dir = f"/tmp/modlyn_cusum_src/{tag}"
    shutil.rmtree(src_dir, ignore_errors=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "value"
    )
    ev.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    out = stream_cusum(
        stream, "user_id", "event_id", "value",
        target=50.0, slack=10.0, threshold=500.0,
    )
    name = f"cusum_stream_{tag}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("order_val").alias("event_id"),
        F.round("cusum_pos", 6).alias("cusum_pos"),
        F.round("cusum_neg", 6).alias("cusum_neg"),
        "is_alarm",
    )


def _synthetic_training_log(spark, sf_dir):
    """Per-(example, epoch) training log derived deterministically from
    the embeddings table: p_true = (md5-unit(vec_id, epoch) + 0.15 *
    epoch) / 1.75 over epochs 1..5 — every step is exact hash / literal
    arithmetic both engines reproduce bit-for-bit."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    log = emb.withColumn("epoch", F.explode(F.sequence(F.lit(1), F.lit(5))))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("vec_id").cast("string"),
                        F.col("epoch").cast("string"),
                        F.lit("carto"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return log.withColumn(
        "p_true", (u + F.col("epoch") * F.lit(0.15)) / F.lit(1.75)
    ).withColumn("correct", F.col("p_true") > F.lit(0.5))


def q_dataset_cartography(spark, sf_dir):
    """Dataset cartography (scoring/dynamics.py, Swayamdipta 2020):
    confidence / variability / correctness per example over a 5-epoch
    synthetic training log — ONE map-side-combinable groupBy carrying 4
    partial sums per (partition, id); variability from the exact
    E[x^2]-E[x]^2 identity, no second pass. Oracle: the same sums as
    plain GROUP BY SQL."""
    from modlyn_spark.scoring.dynamics import dataset_cartography

    out = dataset_cartography(
        _synthetic_training_log(spark, sf_dir), "vec_id", "p_true", "correct"
    )
    return out.select(
        "vec_id",
        "n_epochs",
        F.round("confidence", 6).alias("confidence"),
        F.round("variability", 6).alias("variability"),
        F.round("correctness", 6).alias("correctness"),
        "region",
    )


def _synthetic_probs(spark, sf_dir):
    """Per-example 10-class probability vectors peaked at the TRUE
    label (hash noise * 0.05 + 1.5 at the label index, normalized) plus
    a 5%% hash-flipped GIVEN label — the standard planted-noise setup
    for label-error detection, as pure md5 / literal arithmetic."""
    from modlyn_spark.session import ensure_parallelism

    # the 20-md5s-per-row probs build is CPU-bound: un-serialize the
    # single-row-group bench scan (no-op at scale - see session.py)
    emb = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", F.col("label").cast("int").alias("label")
        )
    )
    vid = F.col("vec_id").cast("string")

    # ONE md5 per row, sliced into ten 3-hex-digit uniforms (plus a
    # 2-hex flip draw from the tail)
    hexd = F.md5(F.concat_ws("|", vid, F.lit("le")))
    a = F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda j: F.conv(hexd.substr(j * 3 + 1, F.lit(3)), 16, 10).cast(
            "long"
        )
        / F.lit(4096.0)
        * F.lit(0.05)
        + F.when(j == F.col("label"), F.lit(1.5)).otherwise(F.lit(0.0)),
    )
    s = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)
    probs = F.transform(a, lambda x: x / s)
    flip = (
        F.conv(hexd.substr(31, 2), 16, 10).cast("long") / F.lit(256.0)
    ) < F.lit(0.05)
    given = F.when(flip, F.pmod(F.col("label") + 1, F.lit(10))).otherwise(
        F.col("label")
    )
    out = emb.select(
        "vec_id",
        "label",
        given.cast("int").alias("given"),
        probs.alias("probs"),
    )
    # MATERIALIZE the synthetic vectors: array HOFs evaluate interpreted
    # (CodegenFallback, no common-subexpression elimination), so a
    # nested-HOF probs EXPRESSION re-evaluates its whole subtree per
    # array element and per downstream reference — the scoring pass over
    # this 20k-row table measured 18.8s lazy vs 0.75s materialized at
    # sf1. Real pipelines read stored probability columns (the
    # labelerrors.py input contract); the checkpoint makes the synthetic
    # construction equivalent.
    return out.localCheckpoint()


def q_label_errors(spark, sf_dir):
    """Confident-learning label-error candidates (scoring/
    labelerrors.py, Northcutt 2021): per-class self-confidence
    thresholds (ONE aggregate, k rows, re-embedded as a literal array)
    then a join-free shuffle-free restricted-argmax scan; candidates =
    confident disagreements with the given label. The planted 5%% label
    flips are what it should recover. Oracle: the same thresholds +
    restricted argmax via unnest/window SQL."""
    from modlyn_spark.scoring.labelerrors import label_error_candidates

    cands = label_error_candidates(
        _synthetic_probs(spark, sf_dir), "vec_id", "given", "probs",
        n_classes=10,
    )
    return cands.select(
        "vec_id",
        "given_idx",
        "predicted_idx",
        F.round("self_conf", 6).alias("self_conf"),
        F.round("margin", 6).alias("margin"),
    )


def q_acquisition_scores(spark, sf_dir):
    """EL2N / acquisition difficulty scores (scoring/dynamics.py, Paul
    2021): entropy, least-confidence, top-2 margin, EL2N, true-margin
    and argmax correctness over probability vectors derived from the
    embedding columns — pure JVM array-HOF algebra, ZERO shuffle / ZERO
    Python (plan-asserted in tests). Oracle: the identical expressions
    via DuckDB list lambdas."""
    from modlyn_spark.scoring.dynamics import acquisition_scores

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("label").cast("int").alias("label"), "embedding"
    )
    a = F.transform(
        F.slice("embedding", 1, 10),
        lambda x: F.abs(x.cast("double")) + F.lit(0.01),
    )
    s = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)
    probs = F.transform(a, lambda x: x / s)
    df = emb.select("vec_id", "label", probs.alias("probs"))
    out = acquisition_scores(df, "probs", "label")
    return out.select(
        "vec_id",
        F.round("entropy", 6).alias("entropy"),
        F.round("least_confidence", 6).alias("least_confidence"),
        F.round("margin_top2", 6).alias("margin_top2"),
        F.round("p_true", 6).alias("p_true"),
        F.round("el2n", 6).alias("el2n"),
        F.round("margin_true", 6).alias("margin_true"),
        "is_correct",
    )


def q_class_weights(spark, sf_dir):
    """Effective-number class-balanced weights (operators/balance.py,
    Cui 2019): ONE count aggregate + a class-cardinality-sized window
    normalization. Oracle: the published formulas as plain SQL."""
    from modlyn_spark.operators.balance import effective_number_weights

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("label").cast("int").alias("label")
    )
    return effective_number_weights(emb, "label", beta=0.99).select(
        "label", "n", "weight"
    )


def q_shard_plan(spark, sf_dir):
    """Webdataset-style shard layout (operators/shards.py): documents
    hash into 8 independent groups (one exchange), next-fit byte-offset
    packing per group toward a 200 KB target — deterministic at any
    parallelism, overshoot bounded by one sample. Oracle: the same md5
    draw + prefix-sum windows in DuckDB."""
    from modlyn_spark.operators.shards import shard_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    out = shard_plan(
        docs, "doc_id", "n_chars", target_bytes=200_000, groups=8
    )
    return out.select(
        "doc_id", "shard_group", "local_shard", "seq_in_shard", "shard_id"
    )


def q_mixup_plan(spark, sf_dir):
    """Deterministic mixup pairing (operators/mixup.py, Zhang 2018):
    rows hash into 8 groups, the epoch-keyed modular shift pairs every
    row with a distinct partner (a bijection — each row is used exactly
    once per side), lam ~ Kumaraswamy(0.2, 0.2) via its closed-form
    inverse CDF (the engine-portable stand-in for mixup's Beta). One
    exchange + one co-keyed self-join; pixels never move. Oracle: the
    identical md5 windows + shift join in DuckDB."""
    from modlyn_spark.operators.mixup import mixup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id"
    )
    out = mixup_pairs(emb, "vec_id", epoch=1, alpha=0.2, groups=8)
    return out.select(
        "vec_id", "b_vec_id", F.round("lam", 6).alias("lam")
    )


def q_cutmix_plan(spark, sf_dir):
    """CutMix box geometry (operators/mixup.py, Yun 2019): uniform lam
    + box (w*sqrt(1-lam), h*sqrt(1-lam)) at a hash-uniform center,
    clipped, with the area-corrected label weight — every step an
    exactly-rounded IEEE op (hash-exact u, correctly-rounded sqrt/mul/
    floor), so the INTEGER boxes match any engine bit-for-bit. Zero
    shuffle, zero Python (plan-asserted in tests). Oracle: the same
    arithmetic in DuckDB."""
    from modlyn_spark.operators.mixup import cutmix_boxes

    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("img"),
        (160 + (F.col("p_partkey") * 7) % 3841).alias("w"),
        (120 + (F.col("p_partkey") * 13) % 2161).alias("h"),
    )
    out = cutmix_boxes(part, "img", "w", "h", epoch=2)
    return out.select(
        "img", "w", "h",
        F.round("lam", 6).alias("lam"),
        "box_x", "box_y", "box_w", "box_h",
        F.round("lam_adj", 6).alias("lam_adj"),
    )


def q_curriculum_plan(spark, sf_dir):
    """Competence-based curriculum (operators/curriculum.py, Platanios
    2019): exact tie-coherent difficulty percentile from the binning
    histogram machinery (ONE map-side-combinable groupBy(score); rank
    windows over distinct values, never rows) and the entry epoch as a
    pure array expression over the 6 sqrt-schedule literals. Oracle:
    rank()-based percentile + the same literals in DuckDB."""
    from modlyn_spark.operators.curriculum import curriculum_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    out = curriculum_plan(docs, "n_chars", epochs=6, c0=0.1)
    return out.select(
        "doc_id",
        F.round("difficulty_pct", 8).alias("difficulty_pct"),
        "entry_epoch",
    )


def q_data_diet(spark, sf_dir):
    """Per-class data-diet prune (operators/curriculum.py, Paul 2021):
    keep the hardest 30% of each language by length score — the prune
    threshold comes from per-class windows over the (class, score)
    HISTOGRAM (the only data-sized shuffles are the histogram aggregate
    and the value-keyed join back), tie groups all-in. Oracle: the same
    histogram windows in DuckDB."""
    from modlyn_spark.operators.curriculum import data_diet

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = data_diet(docs, "n_chars", keep_fraction=0.3, by="lang")
    return out.select("doc_id", "lang", "n_chars")


def q_random_projection(spark, sf_dir):
    """JL sign projection 64 -> 16 (operators/projection.py, Achlioptas
    2003): the ±1 matrix is a pure md5 function of (dims, seed),
    materialized driver-side and embedded as LITERALS — the projection
    pass is whole-stage-codegen column algebra, ZERO shuffle / ZERO
    Python (plan-asserted in tests); 1/sqrt(16) = 0.25 is exact, so the
    only float freedom is the fold order, absorbed by round(6). Oracle:
    the same md5 sign rule via nested DuckDB list lambdas."""
    from modlyn_spark.operators.projection import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = random_projection(emb, "embedding", d_in=64, d_out=16)
    return out.select(
        "vec_id",
        F.transform("embedding_proj", lambda x: F.round(x, 6)).alias(
            "proj"
        ),
    )


def q_canonical_docs(spark, sf_dir):
    """Canonical-representative selection over near-dup clusters — the
    curation decision AFTER dedup finds groups: every document maps to
    its cluster's best member (longest text, ties to the smallest id;
    singletons map to themselves). Composes the exact-verified minhash
    pair graph + pointer-doubling components + ONE per-component argmax
    window and a broadcast-able remap join — the output is a
    (doc_id -> canonical_id) table the pipeline applies as a semi/anti
    join. Oracle: recursive-CTE reachability + the same argmax rule."""
    from modlyn_spark.operators.dedup import (
        connected_components,
        minhash_near_dup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", k=96, bands=16, threshold=0.8
    )
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    member = docs.join(comp, "doc_id", "left").withColumn(
        "component", F.coalesce("component", F.col("doc_id"))
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    canon = (
        member.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("component", F.col("doc_id").alias("canonical_id"))
    )
    return (
        member.join(canon, "component")
        .select(
            "doc_id",
            "component",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias(
                "is_canonical"
            ),
        )
    )


def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift between two corpus slices (scoring/
    drift.py): per-dimension means/stds/SMD from ONE GEMM moments pass
    per side (Arrow-batch partials, executor tree combine — rows never
    shuffle, the driver sees <= 64 combined rows/side). Oracle: exact
    per-dim aggregates via unnest in DuckDB, round(6)."""
    from modlyn_spark.scoring.drift import embedding_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "embedding",
        F.when(F.col("label") < 5, F.lit("a")).otherwise(F.lit("b")).alias(
            "side"
        ),
    )
    out = embedding_drift(emb, "embedding", "side", "a", "b")
    return out.select(
        "pos", "n_a", "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("std_a", 6).alias("std_a"),
        F.round("std_b", 6).alias("std_b"),
        F.round("smd", 6).alias("smd"),
    )


def q_rebalance_sample(spark, sf_dir):
    """Class-rebalancing subsample (operators/sampling.py): the largest
    deterministic subsample whose language distribution is uniform —
    keep fractions p_c = t_c * M / n_c with M = min_c n_c / t_c from ONE
    class-count aggregate, then the portable md5-Bernoulli stratified
    draw (zero shuffle in the sampling pass). Oracle: the identical
    float arithmetic + md5 draw in SQL."""
    from modlyn_spark.operators.sampling import (
        rebalance_fractions,
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    ).where(F.col("lang").isNotNull())
    p = rebalance_fractions(docs, "lang")
    return stratified_sample(docs, "lang", p, ["doc_id"]).select(
        "doc_id", "lang"
    )


def q_channel_stats(spark, sf_dir):
    """Corpus per-channel normalization constants (functions/
    image_features.py): decode inside the Arrow map, emit <= 4 moment-
    partial rows PER BATCH (pixels never shuffle), ONE tiny aggregate —
    the dataset-mean/std pair a training transform bakes in, plus the
    channel = -1 undecodable counter. Oracle: the INDEPENDENT
    accumulation twin (python-float sums, np.dot sumsq, channel-major
    loop) frozen as a fixture."""
    from modlyn_spark.functions.image_features import channel_stats
    from modlyn_spark.session import ensure_parallelism

    images = ensure_parallelism(
        spark.read.parquet(f"{_FIXTURES}/images_curation_input.parquet")
    )
    return channel_stats(images).orderBy("channel")


def q_skew_report(spark, sf_dir):
    """Join-key skew diagnosis (operators/skew.py): top-20 heaviest
    user_id keys of the events stream with their table share and the
    salt factor that brings each under a per-task row budget — ONE
    map-side-combinable groupBy + a one-row broadcast total +
    TakeOrderedAndProject (never a global sort of the key table).
    Oracle: the same GROUP BY / cross-joined total / ORDER-LIMIT."""
    from modlyn_spark.operators.skew import skew_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return skew_report(ev, "user_id", target_rows_per_task=50, top_k=20)


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planner (operators/compaction.py) over a
    deterministic manifest derived from documents (part = lang, file =
    md5-bucket of doc_id into 37 shards, bytes = sum(n_chars)):
    start-offset binning into >=30kB rewrite groups in ONE exchange on
    the partition column (the per-group stats window reuses the hash
    partitioning — plan-asserted in tests/test_compaction.py). Oracle:
    the identical two-window arithmetic in DuckDB."""
    from modlyn_spark.operators.compaction import compaction_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("doc_id").cast("string"), F.lit("cp")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 37
    )
    manifest = docs.groupBy(
        F.col("lang").alias("part"),
        F.concat(F.lit("f"), F.lpad(bucket.cast("string"), 2, "0")).alias(
            "file"
        ),
    ).agg(F.sum("n_chars").alias("bytes"))
    out = compaction_plan(
        manifest, "part", "file", "bytes", target_bytes=30_000
    )
    return out.withColumnRenamed("group", "grp")


def q_conformal_thresholds(spark, sf_dir):
    """Split-conformal calibration thresholds (scoring/conformal.py):
    the k = ceil((n+1)(1-alpha))-th smallest nonconformity score per
    event_type at three coverage levels — the distribution-free
    accept/reject gate a curation pipeline puts on top of any quality
    score. Plan: one map-side-combinable value histogram, per-group
    cumulative windows over DISTINCT scores, never a row-level sort.
    Oracle: the IDENTICAL ANSI formulation via conformal_thresholds_sql
    (raw doubles, no rounding — qhat is an actual data value, so
    engine equality is bit-exact)."""
    from modlyn_spark.scoring.conformal import conformal_thresholds

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return conformal_thresholds(
        ev, "value", group_cols="event_type", alphas=[0.05, 0.1, 0.25]
    )


def _retired_queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "history_features": q_history_features,
        "image_patches": q_image_patches,
        "weighted_take": q_weighted_take,
        "frequent_pairs": q_frequent_pairs,
        "recurring_tiles": q_recurring_tiles,
        "path_transitions": q_path_transitions,
        "top_paths": q_top_paths,
        "trend_features": q_trend_features,
        "triangle_counts": q_triangle_counts,
        "radius_join": q_radius_join,
        "mad_outliers": q_mad_outliers,
        "concentration": q_concentration,
        "quantile_norm": q_quantile_norm,
        "geohash": q_geohash,
        "golden_records": q_golden_records,
        "attribution": q_attribution,
        "agg_maintainer": q_agg_maintainer,
        "tpch_q6_forecast_revenue": q_tpch_q6_forecast_revenue,
        "tpch_q12_shipmode": q_tpch_q12_shipmode,
        "dedup_groups": q_dedup_groups,
        "tpch_q4_order_priority": q_tpch_q4_order_priority,
        "tpch_q10_returned_items": q_tpch_q10_returned_items,
        # r4 rotation: slots freed for corpus_chunk_dedup,
        # source_quality_rollup, hash_split, minhash_contamination,
        # span_contamination, curation_pipeline, early_termination
        "filter_isin": q_filter_isin,
        "limit_slice": q_limit_slice,
        "log1p": q_log1p,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "groupby_count": q_groupby_count,
        "global_minmax": q_global_minmax,
        # r4 net-new mirror-gated operators (no free driver slot): PCA
        # projection (fixture twin) and the skew-safe stratified reservoir
        "pca_projection": q_pca_projection,
        "stratified_take": q_stratified_take,
        "pack_sequences": q_pack_sequences,
        "source_mix": q_source_mix,
        "unigram_logprob": q_unigram_logprob,
        "hash_hamming_pairs": q_hash_hamming_pairs,
        "bpe_merges": q_bpe_merges,
        # late-r4 rotation: these five retire so image_curation / semdedup
        # / quality_classifier / pii_scrub / incremental_dedup get driver
        # slots; hashed_features stays mirror-gated (its dense twin is
        # inside the gated quality_classifier row)
        "anti_join_orphans": q_anti_join_orphans,
        "topk_per_group": q_topk_per_group,
        "rolling_stats": q_rolling_stats,
        "token_count": q_token_count,
        "doc_fingerprint": q_doc_fingerprint,
        "hashed_features": q_hashed_features,
        "text_predictions": q_text_predictions,
        "bigram_logprob": q_bigram_logprob,
        "url_filter": q_url_filter,
        "bm25_topk": q_bm25_topk,
        "chunk_documents": q_chunk_documents,
        "phash_topk": q_phash_topk,
        # r4 third-session rotation: slot freed for training_set
        "label_encode": q_label_encode,
        "target_encode": q_target_encode,
        "feature_corr": q_feature_corr,
        "mi_scores": q_mi_scores,
        "hybrid_rrf": q_hybrid_rrf,
        "standardize": q_standardize,
        "time_split": q_time_split,
        "psi_drift": q_psi_drift,
        "compact_history": q_compact_history,
        "training_table": q_training_table,
        "quantile_bins": q_quantile_bins,
        "chi2_scores": q_chi2_scores,
        "woe_iv": q_woe_iv,
        "image_features": q_image_features,
        "tfidf_vectors": q_tfidf_vectors,
        "roc_auc": q_roc_auc,
        "calibration": q_calibration,
        "avg_precision": q_avg_precision,
        "pq_encode": q_pq_encode,
        "isotonic_fit": q_isotonic_fit,
        "maha_outliers": q_maha_outliers,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "welch_ab": q_welch_ab,
        "snapshot_diff": q_snapshot_diff,
        "resample": q_resample,
        "zorder_key": q_zorder,
        "neg_samples": q_neg_samples,
        # rotation 3 (fifth session): pq_topk / interval_join /
        # fuzzy_linkage / cdc_apply promoted into the 50; these four
        # (each fully subsumed by live composed queries — curation
        # gates lang/quality/exact-dedup, ANN keeps cosine+IVF) retire
        # with full oracles under the mirror
        # r4 sixth session: data-quality surface (mirror-gated, no free
        # slot) — profiler + expectation suite over the documents snapshot
        "table_profile": q_table_profile,
        "expectations": q_expectations,
        "heavy_hitters": q_heavy_hitters,
        "pagerank_hosts": q_pagerank_hosts,
        "incremental_agg": q_incremental_agg,
        "source_lang_rollup": q_source_lang_rollup,
        "contrastive_pairs": q_contrastive_pairs,
        "ovr_auc": q_ovr_auc,
        "augmentation_plan": q_augmentation_plan,
        "bootstrap_ci": q_bootstrap_ci,
        "bootstrap_lift": q_bootstrap_lift,
        "dataset_report": q_dataset_report,
        "ann_lsh_topk": q_ann_lsh_topk,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "dedup_exact": q_dedup_exact,
        # r5 third-session net-new operators (mirror-gated, no free slot):
        # the leakage-safe training-set family rounds out — decayed
        # counters + future labels join as-of/history on the feature side,
        # purged CV folds + KS drift on the evaluation side, collocations
        # on the tokenizer-prep side
        "collocations": q_collocations,
        "decayed_features": q_decayed_features,
        "time_folds": q_time_folds,
        "future_labels": q_future_labels,
        "ks_drift": q_ks_drift,
        # r5 third wave: image-batch geometry, monitoring, balancing,
        # label quality, embedding compression
        "aspect_buckets": q_aspect_buckets,
        "cusum_changepoints": q_cusum_changepoints,
        "oversample_plan": q_oversample_plan,
        "fleiss_kappa": q_fleiss_kappa,
        "quantize_embeddings": q_quantize_embeddings,
        "prototype_margins": q_prototype_margins,
        "stream_cusum": q_stream_cusum,
        "dataset_cartography": q_dataset_cartography,
        "label_errors": q_label_errors,
        "acquisition_scores": q_acquisition_scores,
        "class_weights": q_class_weights,
        "shard_plan": q_shard_plan,
        "mixup_plan": q_mixup_plan,
        "cutmix_plan": q_cutmix_plan,
        "curriculum_plan": q_curriculum_plan,
        "data_diet": q_data_diet,
        "random_projection": q_random_projection,
        "canonical_docs": q_canonical_docs,
        "embedding_drift": q_embedding_drift,
        "rebalance_sample": q_rebalance_sample,
        "channel_stats": q_channel_stats,
        # r5 sixth wave: table-maintenance / shuffle-planning ops —
        # skew diagnosis (the north_rule's "skew handled explicitly"
        # planning step) and the small-file compaction planner that
        # complements z-order layout
        "skew_report": q_skew_report,
        "compaction_plan": q_compaction_plan,
        # r5 final wave: distribution-free conformal coverage thresholds
        "conformal_thresholds": q_conformal_thresholds,
        # r5 sixth wave: fused regularization-path sweep over the
        # reference trainer kernel (promoted at definition)
        "regpath_weights": q_regpath_weights,
        # r5 seventh wave: closed-form ridge t-stats + fold-parallel CV
        # (promoted at definition)
        "ridge_tstats": q_ridge_tstats,
        "cv_weights": q_cv_weights,
        # r5 eighth wave: Kaplan-Meier survival + mRMR selection
        # (promoted at definition)
        "kaplan_meier": q_kaplan_meier,
        "mrmr_selection": q_mrmr_selection,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB). Every queries() entry has an oracle. Two of them are
# fixture-backed (iterative training / synthetic-source pipelines are not
# directly SQL-expressible): the expected outputs are precomputed by the
# INDEPENDENT single-node numpy/pandas implementations in
# modlyn_spark/oracle/pandas_oracle.py (scripts/make_oracle_fixtures.py,
# deterministic) and the SQL reads the parquet fixture. ``logreg_weights``'s
# fixture is bound to the driver's correctness SF (sf0.01) because the
# trained weights depend on the input table; ``image_pipeline`` is a pure
# function of its synthetic generator and holds at every SF.
# ---------------------------------------------------------------------------

# oracle entries whose fixture was computed from one specific sf_dir (the
# local pytest contract runs rows-only for these at other SFs; the external
# driver's gate IS this SF)
SF_BOUND_ORACLES = {
    "logreg_weights": "/root/testdata/sf0.01",
    "kmeans_clusters": "/root/testdata/sf0.01",
    "early_termination": "/root/testdata/sf0.01",
    "regpath_weights": "/root/testdata/sf0.01",
    "ridge_tstats": "/root/testdata/sf0.01",
    "cv_weights": "/root/testdata/sf0.01",
    "mrmr_selection": "/root/testdata/sf0.01",
    "pca_projection": "/root/testdata/sf0.01",
    "bpe_merges": "/root/testdata/sf0.01",
    "quality_classifier": "/root/testdata/sf0.01",
    "isotonic_fit": "/root/testdata/sf0.01",
    "maha_outliers": "/root/testdata/sf0.01",
    "pagerank_hosts": "/root/testdata/sf0.01",
}

_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _ngram_pairs_sql(threshold: float) -> str:
    """Exact character-3-gram Jaccard pair set — the shared oracle for
    ngram_jaccard_pairs (exact engine path) AND the candidates-then-verify
    operators (dedup_minhash_lsh / dedup_simhash), whose outputs equal the
    exact set whenever candidate recall is 1.0 on the fixture."""
    return f"""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, len(lower(text)) - 2),
                     i -> substr(lower(text), CAST(i AS INT), 3))) AS s
          FROM documents),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT id1, id2,
               round(c * 1.0 / (len(s1.s) + len(s2.s) - c), 4) AS jaccard
        FROM c JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
        WHERE c * 1.0 / (len(s1.s) + len(s2.s) - c) >= {threshold}
    """
_EN = "['the','and','of','to','in','is','that','it','was','for']"


def _bm25_run_sql(lo: int, hi: int) -> str:
    """One ranked BM25 run (k=5, probe queries = every 100th doc's words
    ``lo..hi``) — shared by the bm25_topk oracle and both legs of the
    hybrid_rrf reciprocal-rank-fusion oracle."""
    return f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                     AS token
          FROM documents),
        post AS (SELECT doc_id, token, count(*) AS tf
                 FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
        dfr AS (SELECT token, count(*) AS df FROM post GROUP BY 1),
        st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        q AS (SELECT doc_id AS query_id,
                     array_to_string(
                         (regexp_extract_all(lower(text),
                                             '[a-z0-9]+'))[{lo}:{hi}],
                         ' ') AS qtext
              FROM documents WHERE doc_id % 100 = 7),
        qt AS (SELECT DISTINCT query_id,
                      unnest(regexp_extract_all(qtext, '[a-z0-9]+'))
                          AS token
               FROM q),
        sc AS (SELECT qt.query_id, post.doc_id,
                      sum(ln(1 + (n_docs - dfr.df + 0.5)
                             / (dfr.df + 0.5))
                          * post.tf * 2.2
                          / (post.tf
                             + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)))
                          AS score
               FROM qt JOIN post USING (token)
                       JOIN dfr USING (token)
                       JOIN dl ON post.doc_id = dl.doc_id, st
               GROUP BY 1, 2)
        SELECT query_id, doc_id, score, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id) AS rank
          FROM sc)
        WHERE rank <= 5
    """
_DE = "['der','die','und','das','ist','von','den','mit','nicht','ein']"
_FR = "['le','la','les','et','de','un','une','est','que','pour']"
_ES = "['el','la','los','de','que','y','en','un','una','por']"


def _oracle_sql_base() -> dict[str, str]:
    return {
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY 1, 2
        """,
        "tpch_q3_top_orders": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY 1
        """,
        "repetition_signals": f"""
            WITH w AS ({_WORDS_SQL}),
            tot AS (
              SELECT doc_id, CAST(sum(wl) AS DOUBLE) AS total
              FROM w GROUP BY doc_id
            ),
            lw AS (
              SELECT doc_id, ord, word, wl,
                     lead(word, 1) OVER win AS w1, lead(wl, 1) OVER win AS l1,
                     lead(word, 2) OVER win AS w2, lead(wl, 2) OVER win AS l2,
                     lead(word, 3) OVER win AS w3, lead(wl, 3) OVER win AS l3,
                     lead(word, 4) OVER win AS w4, lead(wl, 4) OVER win AS l4
              FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY ord)
            ),
            top2 AS (
              SELECT doc_id, cnt * glen AS mass FROM (
                SELECT doc_id, word || ' ' || w1 AS gram, wl + l1 AS glen,
                       count(*) AS cnt
                FROM lw WHERE w1 IS NOT NULL GROUP BY 1, 2, 3
              ) QUALIFY row_number() OVER (
                  PARTITION BY doc_id ORDER BY cnt DESC, gram) = 1
            ),
            top3 AS (
              SELECT doc_id, cnt * glen AS mass FROM (
                SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS gram,
                       wl + l1 + l2 AS glen, count(*) AS cnt
                FROM lw WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
              ) QUALIFY row_number() OVER (
                  PARTITION BY doc_id ORDER BY cnt DESC, gram) = 1
            ),
            g5 AS (
              SELECT doc_id, ord,
                     word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
                       AS gram
              FROM lw WHERE w4 IS NOT NULL
            ),
            d5 AS (
              SELECT doc_id, gram FROM g5
              GROUP BY doc_id, gram HAVING count(*) >= 2
            ),
            cov AS (
              SELECT DISTINCT g5.doc_id, g5.ord + k.k AS pos
              FROM g5 JOIN d5 USING (doc_id, gram)
              CROSS JOIN (SELECT unnest(range(5)) AS k) k
            ),
            dup5 AS (
              SELECT w.doc_id, sum(w.wl) AS mass
              FROM w JOIN cov ON w.doc_id = cov.doc_id AND w.ord = cov.pos
              GROUP BY w.doc_id
            )
            SELECT d.doc_id,
                   coalesce(round(least(top2.mass / tot.total, 1.0), 4), 0.0)
                     AS top2gram_frac,
                   coalesce(round(least(top3.mass / tot.total, 1.0), 4), 0.0)
                     AS top3gram_frac,
                   coalesce(round(dup5.mass / tot.total, 4), 0.0)
                     AS dup5gram_frac
            FROM documents d
            LEFT JOIN tot USING (doc_id)
            LEFT JOIN top2 USING (doc_id)
            LEFT JOIN top3 USING (doc_id)
            LEFT JOIN dup5 USING (doc_id)
        """,
        "span_dup_pairs": f"""
            WITH w AS ({_WORDS_SQL}),
            g AS (
              SELECT DISTINCT doc_id, word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win || ' ' || lead(word, 3) OVER win || ' ' || lead(word, 4) OVER win || ' ' || lead(word, 5) OVER win || ' ' || lead(word, 6) OVER win || ' ' || lead(word, 7) OVER win AS gram
              FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY ord)
            ),
            gg AS (SELECT doc_id, gram FROM g WHERE gram IS NOT NULL)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(count(DISTINCT a.gram) AS BIGINT) AS n_shared_grams
            FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY 1
        """,
        "json_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "filter_min_class_freq": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_custkey IN (
                SELECT o_custkey FROM orders GROUP BY 1 HAVING count(*) > 12)
        """,
        "asof_join_merge": f"""
            WITH st AS ({_PURCHASE_STATE_SQL}), pr AS ({_PROBES_SQL})
            SELECT pr.event_id, pr.user_id, st.purchase_value
            FROM pr ASOF LEFT JOIN st
              ON pr.user_id = st.user_id AND st.ts <= pr.feature_ts
        """,
        "training_set": f"""
            WITH pu AS ({_PURCHASE_STATE_SQL}),
            sg AS (SELECT user_id, ts, max(value) AS signup_value
                   FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
            er AS (SELECT user_id, ts, max(value) AS err_value
                   FROM events WHERE event_type = 'error' GROUP BY 1, 2),
            pr AS ({_PROBES_SQL}),
            j1 AS (SELECT pr.event_id, pr.user_id, pr.feature_ts,
                          pu.purchase_value
                   FROM pr ASOF LEFT JOIN pu
                     ON pr.user_id = pu.user_id AND pu.ts <= pr.feature_ts),
            j2 AS (SELECT j1.*, sg.signup_value
                   FROM j1 ASOF LEFT JOIN sg
                     ON j1.user_id = sg.user_id AND sg.ts <= j1.feature_ts),
            j3 AS (SELECT j2.*, er.err_value, er.ts AS err_ts
                   FROM j2 ASOF LEFT JOIN er
                     ON j2.user_id = er.user_id AND er.ts <= j2.feature_ts)
            SELECT event_id, user_id,
                   round(purchase_value, 4) AS purchase_value,
                   round(signup_value, 4) AS signup_value,
                   round(CASE WHEN err_ts >= feature_ts - INTERVAL 1 DAY
                              THEN err_value END, 4) AS err_value
            FROM j3
        """,
        "asof_join_tolerance": f"""
            WITH st AS ({_PURCHASE_STATE_SQL}), pr AS ({_PROBES_SQL}),
            m AS (
              SELECT pr.event_id, pr.user_id, pr.feature_ts,
                     st.purchase_value, st.ts AS state_ts
              FROM pr ASOF LEFT JOIN st
                ON pr.user_id = st.user_id AND st.ts <= pr.feature_ts)
            SELECT event_id, user_id,
                   CASE WHEN state_ts >= feature_ts - INTERVAL 1 DAY
                        THEN purchase_value END AS purchase_value,
                   CASE WHEN state_ts >= feature_ts - INTERVAL 1 DAY
                        THEN state_ts END AS state_ts
            FROM m
        """,
        "rolling_range_window": """
            -- ORDER BY truncated epoch seconds to mirror Spark's
            -- rangeBetween over cast(long): rows in the same second are
            -- frame peers in both engines
            SELECT event_id, user_id,
                   count(value) OVER w AS roll_count,
                   round(avg(value) OVER w, 4) AS roll_mean
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "lag_lead_delta": f"""
            WITH st AS ({_PURCHASE_STATE_SQL})
            SELECT user_id, ts,
                   round(lag(purchase_value) OVER w, 4) AS pv_lag1,
                   round(lead(purchase_value) OVER w, 4) AS pv_lead1,
                   round(purchase_value - lag(purchase_value) OVER w, 4) AS pv_delta1
            FROM st WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "session_stats": """
            WITH s AS (
              SELECT user_id, ts, value,
                     CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
              FROM (SELECT user_id, ts, value,
                           CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                                (PARTITION BY user_id ORDER BY ts)) <= 1800
                                THEN 0 ELSE 1 END AS flag
                    FROM events))
            SELECT user_id, session_id, count(*) AS n_events,
                   round(epoch(max(ts)) - epoch(min(ts)), 4) AS duration_sec,
                   round(sum(value), 4) AS v_sum
            FROM s GROUP BY 1, 2
        """,
        "backfill": """
            SELECT event_id, user_id,
                   round(last_value(v_sparse IGNORE NULLS) OVER
                       (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING), 4) AS v_ffill
            FROM (SELECT event_id, user_id, ts,
                         CASE WHEN event_type != 'error' THEN value END AS v_sparse
                  FROM events)
        """,
        "pivot_event_counts": """
            -- CAST: DuckDB sum() yields HUGEINT; Spark sum(int) is BIGINT
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup
            FROM events GROUP BY 1
        """,
        "class_feature_stats": """
            SELECT CAST(label AS VARCHAR) AS label, g - 1 AS pos,
                   count(*) AS n, round(avg(x), 4) AS mean,
                   round(var_pop(x), 4) AS var_pop
            FROM (SELECT label, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS g
                  FROM embeddings)
            GROUP BY 1, 2
        """,
        "f_statistic": """
            WITH x AS (SELECT CAST(label AS VARCHAR) AS label,
                              g - 1 AS pos, CAST(x AS DOUBLE) AS v
                       FROM (SELECT label, unnest(embedding) AS x,
                                    generate_subscripts(embedding, 1) AS g
                             FROM embeddings)),
            s AS (SELECT label, pos, count(*) AS n, avg(v) AS mean,
                         var_pop(v) AS var_pop
                  FROM x GROUP BY 1, 2),
            g AS (SELECT pos, sum(n) AS n_total, count(*) AS k,
                         sum(n * mean) / sum(n) AS grand
                  FROM s GROUP BY 1)
            SELECT pos, round((ssb / (k - 1)) / (ssw / (n_total - k)), 4) AS f_stat
            FROM (
              SELECT s.pos,
                     sum(s.n * (s.mean - g.grand) * (s.mean - g.grand)) AS ssb,
                     sum(s.n * s.var_pop) AS ssw,
                     min(g.k) AS k, min(g.n_total) AS n_total
              FROM s JOIN g USING (pos) GROUP BY s.pos)
        """,
        "wilcoxon_scores": """
            WITH x AS (SELECT CAST(label AS VARCHAR) AS label, g - 1 AS pos,
                              CAST(x AS DOUBLE) AS v
                       FROM (SELECT label, unnest(embedding) AS x,
                                    generate_subscripts(embedding, 1) AS g
                             FROM embeddings)),
            r AS (SELECT label, pos,
                         rank() OVER (PARTITION BY pos ORDER BY v)
                           + (count(*) OVER (PARTITION BY pos, v) - 1) / 2.0
                           AS avg_rank,
                         count(*) OVER (PARTITION BY pos, v) AS t
                  FROM x),
            s AS (SELECT label, pos, sum(avg_rank) AS rank_sum,
                         count(*) AS n1, sum(t * t - 1.0) AS tie_part
                  FROM r GROUP BY 1, 2),
            g AS (SELECT pos, sum(n1) AS nt, sum(tie_part) AS ties
                  FROM s GROUP BY 1)
            -- zero-variance guard mirrors the engine (stats.py): a fully
            -- tied feature yields z = 0.0, not 0/sqrt(0) = NaN
            SELECT s.label, s.pos, CAST(s.n1 AS BIGINT) AS n1,
                   round(s.rank_sum, 4) AS rank_sum,
                   round(CASE WHEN s.n1 * (g.nt - s.n1) / 12.0
                              * ((g.nt + 1) - g.ties / (g.nt * (g.nt - 1.0))) > 0
                         THEN (s.rank_sum - s.n1 * (g.nt + 1) / 2.0)
                              / sqrt(s.n1 * (g.nt - s.n1) / 12.0
                                     * ((g.nt + 1) - g.ties / (g.nt * (g.nt - 1.0))))
                         ELSE 0.0 END, 4) AS z
            FROM s JOIN g USING (pos)
        """,
        "topn_jaccard": """
            WITH x AS (SELECT CAST(label AS VARCHAR) AS label, g - 1 AS pos,
                              CAST(x AS DOUBLE) AS v
                       FROM (SELECT label, unnest(embedding) AS x,
                                    generate_subscripts(embedding, 1) AS g
                             FROM embeddings)),
            s AS (SELECT label, pos, avg(v) AS mean, var_pop(v) AS var_pop
                  FROM x GROUP BY 1, 2),
            scores AS (
              SELECT 'mean' AS method, label, pos, mean AS score FROM s
              UNION ALL
              SELECT 'meanvar', label, pos, mean + sqrt(var_pop) FROM s),
            ranked AS (SELECT method, label, pos,
                              row_number() OVER (PARTITION BY method, label
                                  ORDER BY abs(score) DESC, pos) AS rk
                       FROM scores),
            tops AS (SELECT method, label, pos FROM ranked WHERE rk <= 10),
            inter AS (SELECT a.label, count(*) AS c
                      FROM tops a JOIN tops b
                        ON a.label = b.label AND a.pos = b.pos
                       AND a.method = 'mean' AND b.method = 'meanvar'
                      GROUP BY 1)
            SELECT label, CAST(10 AS BIGINT) AS n_top,
                   round(c * 1.0 / (20 - c), 4) AS jaccard
            FROM inter
        """,
        "ngram_jaccard_pairs": _ngram_pairs_sql(0.5),
        # candidates-then-verify operators: output = exact pair set at the
        # threshold; a hash mismatch here means the approximate candidate
        # stage (banding / pigeonhole blocks) dropped a true pair
        "dedup_minhash_lsh": _ngram_pairs_sql(0.8),
        "dedup_simhash": _ngram_pairs_sql(0.8),
        "dedup_components": """
            WITH RECURSIVE sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         generate_series(1, len(lower(text)) - 2),
                         i -> substr(lower(text), CAST(i AS INT), 3))) AS s
              FROM documents),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
            pairs AS (
              SELECT id1, id2
              FROM c JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
              WHERE c * 1.0 / (len(s1.s) + len(s2.s) - c) >= 0.8),
            edges AS (SELECT id1 AS u, id2 AS v FROM pairs
                      UNION SELECT id2, id1 FROM pairs),
            reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
            SELECT u AS doc_id, least(u, min(v)) AS component
            FROM reach GROUP BY u
        """,
        "embedding_dup_pairs": f"""
            WITH e AS ({_PLANTED_EMB_SQL})
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        """,
        "ann_ivf_topk": _ANN_RETRIEVAL_ORACLE,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 10),
                 c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings)
            SELECT query_id, corpus_id, round(cosine, 4) AS cosine, rank FROM (
              SELECT query_id, corpus_id,
                     list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS cosine,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) DESC, corpus_id)
                         AS rank
              FROM q, c)
            WHERE rank <= 5
        """,
        "corpus_chunk_dedup": f"""
            WITH w AS ({_WORDS_SQL}),
            ch AS (
              SELECT doc_id, (ord - 1) // 3 AS cid,
                     string_agg(word, ' ' ORDER BY ord) AS unit
              FROM w GROUP BY doc_id, (ord - 1) // 3
            ),
            hot AS (SELECT unit FROM ch GROUP BY unit HAVING count(*) >= 2),
            kept AS (SELECT ch.* FROM ch ANTI JOIN hot USING (unit)),
            tot AS (SELECT doc_id, count(*) AS n_total FROM ch GROUP BY doc_id),
            re AS (
              SELECT doc_id, string_agg(unit, ' ' ORDER BY cid) AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(re.clean_text, '') AS clean_text,
                   CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_units_kept,
                   CAST(coalesce(tot.n_total, 0) - coalesce(re.n_kept, 0)
                        AS BIGINT) AS n_units_removed
            FROM documents d
            LEFT JOIN tot USING (doc_id)
            LEFT JOIN re USING (doc_id)
        """,
        "source_quality_rollup": f"""
            WITH q AS (
              SELECT source, length(text) AS n_chars,
                     len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents),
            r AS (SELECT source, n_chars, fp,
                         (least(n_chars / 200.0, 1.0)
                          + greatest(1.0 - (CASE WHEN n_chars > 0
                                THEN n_punct * 1.0 / n_chars ELSE 0 END) * 4.0, 0.0)
                          + least((CASE WHEN len(w) > 0 THEN
                                len(list_filter(w, x -> list_contains({_EN}, x)))
                                * 1.0 / len(w) ELSE 0 END) * 4.0, 1.0)) / 3.0
                           AS quality
                  FROM q)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 4)
                     AS dup_frac,
                   round(avg(quality), 4) AS avg_quality,
                   round(avg(n_chars), 4) AS avg_chars
            FROM r GROUP BY 1
        """,
        # deterministic md5-draw arithmetic, portable across engines via
        # the conv(md5-prefix) pair; split edges are exact binary floats
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN us < 0.5 THEN 'train'
                        WHEN us < 0.75 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|s1'),
                          1, 8)) AS BIGINT) / 4294967296.0 AS uk,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|r4'),
                          1, 8)) AS BIGINT) / 4294967296.0 AS us
              FROM documents)
            WHERE uk < 0.6
        """,
        # cross-corpus exact 3-gram Jaccard (probe = every 10th doc);
        # equality means the BETWEEN-tables banding dropped no true pair
        "minhash_contamination": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         generate_series(1, len(lower(text)) - 2),
                         i -> substr(lower(text), CAST(i AS INT), 3))) AS s
              FROM documents),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            px AS (SELECT doc_id, g FROM ex WHERE doc_id % 10 = 0),
            c AS (SELECT a.doc_id AS corpus_id, b.doc_id AS probe_id,
                         count(*) AS c
                  FROM ex a JOIN px b ON a.g = b.g GROUP BY 1, 2)
            SELECT corpus_id, probe_id,
                   round(c * 1.0 / (len(s1.s) + len(s2.s) - c), 4) AS jaccard
            FROM c JOIN sh s1 ON s1.doc_id = corpus_id
                   JOIN sh s2 ON s2.doc_id = probe_id
            WHERE c * 1.0 / (len(s1.s) + len(s2.s) - c) >= 0.8
        """,
        # cross-corpus FULL 8-token-gram inverted-index join (probe =
        # doc_id % 10 == 5); the winnowing recall theorem makes the
        # engine's fingerprint-candidate path equal it exactly
        "span_contamination": f"""
            WITH w AS ({_WORDS_SQL}),
            g AS (
              SELECT DISTINCT doc_id, word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win || ' ' || lead(word, 3) OVER win || ' ' || lead(word, 4) OVER win || ' ' || lead(word, 5) OVER win || ' ' || lead(word, 6) OVER win || ' ' || lead(word, 7) OVER win AS gram
              FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY ord)
            ),
            gg AS (SELECT doc_id, gram FROM g WHERE gram IS NOT NULL)
            SELECT a.doc_id AS corpus_id, b.doc_id AS probe_id,
                   CAST(count(DISTINCT a.gram) AS BIGINT) AS n_shared_grams
            FROM gg a JOIN gg b ON a.gram = b.gram AND b.doc_id % 10 = 5
            GROUP BY 1, 2
        """,
        # the COMPOSED curation pipeline in one SQL statement: exact dedup
        # (min-id per canonical fingerprint) -> near-dup drop (any
        # smaller-id exact-3-gram-Jaccard >= 0.8 neighbor — the engine's
        # near_dup_mode='pairs' policy, banding-independent) -> quality
        # gate -> lang annotation -> md5 hash split
        "curation_pipeline": f"""
            WITH d0 AS (
              SELECT doc_id, text,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fp
              FROM documents),
            k1 AS (SELECT min(doc_id) AS doc_id FROM d0 GROUP BY fp),
            d1 AS (SELECT d0.doc_id, d0.text FROM d0 JOIN k1 USING (doc_id)),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         generate_series(1, len(lower(text)) - 2),
                         i -> substr(lower(text), CAST(i AS INT), 3))) AS s
              FROM d1),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
            dirty AS (
              SELECT DISTINCT id2 AS doc_id
              FROM c JOIN sh s1 ON s1.doc_id = id1
                     JOIN sh s2 ON s2.doc_id = id2
              WHERE c * 1.0 / (len(s1.s) + len(s2.s) - c) >= 0.8),
            d2 AS (SELECT * FROM d1 ANTI JOIN dirty USING (doc_id)),
            q AS (SELECT doc_id, length(text) AS n_chars,
                         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                           AS n_punct,
                         regexp_extract_all(lower(text), '[a-z0-9]+') AS wds
                  FROM d2),
            r AS (SELECT doc_id,
                         (least(n_chars / 200.0, 1.0)
                          + greatest(1.0 - (CASE WHEN n_chars > 0
                                THEN n_punct * 1.0 / n_chars ELSE 0 END)
                                * 4.0, 0.0)
                          + least((CASE WHEN len(wds) > 0 THEN
                                len(list_filter(wds, x -> list_contains({_EN}, x)))
                                * 1.0 / len(wds) ELSE 0 END) * 4.0, 1.0)) / 3.0
                           AS quality,
                         len(list_filter(wds, x -> list_contains({_EN}, x))) AS s_en,
                         len(list_filter(wds, x -> list_contains({_DE}, x))) AS s_de,
                         len(list_filter(wds, x -> list_contains({_FR}, x))) AS s_fr,
                         len(list_filter(wds, x -> list_contains({_ES}, x))) AS s_es
                  FROM q),
            lg AS (SELECT doc_id, quality,
                          CASE WHEN greatest(s_en, s_de, s_fr, s_es) < 1
                                 THEN 'und'
                               WHEN s_en = greatest(s_en, s_de, s_fr, s_es)
                                 THEN 'en'
                               WHEN s_de = greatest(s_en, s_de, s_fr, s_es)
                                 THEN 'de'
                               WHEN s_fr = greatest(s_en, s_de, s_fr, s_es)
                                 THEN 'fr'
                               ELSE 'es' END AS lang_pred
                   FROM r)
            SELECT doc_id, lang_pred, round(quality, 4) AS quality,
                   CASE WHEN u < 0.5 THEN 'train'
                        WHEN u < 0.75 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, lang_pred, quality,
                         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                              || '|r4'), 1, 8)) AS BIGINT)
                           / 4294967296.0 AS u
                  FROM lg WHERE quality >= 0.3)
        """,
        # M6: independent numpy twin truncated at step 5 (vs the 8-step
        # logreg_weights fixture — the bound provably binds)
        "early_termination": f"""
            SELECT label, pos, round(weight, 6) AS weight
            FROM read_parquet('{_FIXTURES}/logreg_weights_steps5_sf001.parquet')
        """,
        "kmeans_clusters": f"""
            SELECT vec_id, cluster, round(sq_dist, 4) AS sq_dist
            FROM read_parquet('{_FIXTURES}/kmeans_clusters_sf001.parquet')
        """,
        "logreg_weights": f"""
            SELECT label, pos, round(weight, 6) AS weight
            FROM read_parquet('{_FIXTURES}/logreg_weights_sf001.parquet')
        """,
        # M3: the weights fixture is an INPUT here (same parquet read by
        # both engines), so unlike logreg_weights these are valid at any SF
        "predictions": f"""
            WITH {_PRED_SQL}
            SELECT vec_id, CAST(label_idx AS INT) AS pred_idx,
                   label AS pred_label
            FROM pr WHERE rk = 1
        """,
        "classification_report": f"""
            WITH {_PRED_SQL},
            p AS (SELECT CAST(e.label AS VARCHAR) AS t, pr.label AS pd
                  FROM embeddings e
                  JOIN (SELECT vec_id, label FROM pr WHERE rk = 1) pr
                    USING (vec_id)),
            cm AS (SELECT t, pd, count(*) AS n FROM p GROUP BY 1, 2),
            labs AS (SELECT t AS lab FROM cm UNION SELECT pd FROM cm),
            tps AS (SELECT t AS lab, sum(n) AS tp FROM cm WHERE t = pd GROUP BY 1),
            pns AS (SELECT pd AS lab, sum(n) AS pn FROM cm GROUP BY 1),
            tns AS (SELECT t AS lab, sum(n) AS tn FROM cm GROUP BY 1),
            base AS (
              SELECT lab, coalesce(tp, 0) AS tp, coalesce(pn, 0) AS pn,
                     coalesce(tn, 0) AS tn
              FROM labs LEFT JOIN tps USING (lab) LEFT JOIN pns USING (lab)
                        LEFT JOIN tns USING (lab)),
            pr2 AS (
              SELECT lab, tp, tn,
                     CASE WHEN pn > 0 THEN tp * 1.0 / pn ELSE 0.0 END AS prec,
                     CASE WHEN tn > 0 THEN tp * 1.0 / tn ELSE 0.0 END AS rec
              FROM base),
            f AS (
              SELECT lab, tp, tn, prec, rec,
                     CASE WHEN prec + rec > 0
                          THEN 2.0 * prec * rec / (prec + rec)
                          ELSE 0.0 END AS f1v
              FROM pr2),
            tot AS (SELECT sum(tp) AS tpsum, sum(tn) AS total,
                           avg(prec) AS mp, avg(rec) AS mr, avg(f1v) AS mf,
                           sum(prec * tn) / sum(tn) AS wp,
                           sum(rec * tn) / sum(tn) AS wr,
                           sum(f1v * tn) / sum(tn) AS wf
                    FROM f)
            SELECT lab AS label, round(prec, 6) AS precision,
                   round(rec, 6) AS recall, round(f1v, 6) AS f1,
                   CAST(tn AS BIGINT) AS support
            FROM f
            UNION ALL
            SELECT '__accuracy__', round(tpsum * 1.0 / total, 6),
                   round(tpsum * 1.0 / total, 6), round(tpsum * 1.0 / total, 6),
                   CAST(total AS BIGINT) FROM tot
            UNION ALL
            SELECT '__macro__', round(mp, 6), round(mr, 6), round(mf, 6),
                   CAST(total AS BIGINT) FROM tot
            UNION ALL
            SELECT '__weighted__', round(wp, 6), round(wr, 6), round(wf, 6),
                   CAST(total AS BIGINT) FROM tot
        """,
        # C1/C2: recompute every bucket's lineage metrics (count +
        # order-insensitive 60-bit md5 content hash) straight from the
        # table — must equal the manifests the checkpointed write committed
        "checkpoint_lineage": """
            WITH h AS (
              SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 8 AS INT) AS bucket,
                     CAST(('0x' || substr(md5(concat_ws(chr(31),
                          CAST(doc_id AS VARCHAR), text, lang, source,
                          CAST(n_chars AS VARCHAR))), 1, 15)) AS BIGINT) AS rh
              FROM documents)
            SELECT bucket, count(*) AS n_rows,
                   CAST(sum(rh) % 2305843009213693952 AS BIGINT) AS content_hash
            FROM h GROUP BY 1
        """,
        "image_pipeline": f"""
            SELECT image_id, label,
                   round(f_phash_hamming, 4) AS f_phash_hamming,
                   round(f_version, 4) AS f_version,
                   round(f_age_sec, 4) AS f_age_sec
            FROM read_parquet('{_FIXTURES}/image_pipeline_expected.parquet')
        """,
        # streaming session_window == batch sessions on the same input; the
        # one semantic difference is the boundary: session_window starts a
        # NEW session when gap >= gap_seconds (event joins only if
        # ts < prev_end = prev_ts + gap), while the batch operator splits on
        # gap > gap_seconds — mirrored here with >=.
        "stream_session_stats": """
            WITH s AS (
              SELECT user_id, ts,
                     CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM (SELECT user_id, ts,
                           CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                                (PARTITION BY user_id ORDER BY ts)) < 1800
                                THEN 0 ELSE 1 END AS flag
                    FROM events))
            SELECT user_id, count(*) AS n_events,
                   round(epoch(max(ts)) - epoch(min(ts)), 4) AS duration_sec,
                   min(ts) AS session_start
            FROM s GROUP BY user_id, session_id
        """,
        # late-r4 rotation: the promoted curation-surface operators
        "pii_scrub": _pii_scrub_sql(),
        "semdedup": f"""
            WITH e AS ({_PLANTED_EMB_SQL}),
            c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                         CAST(embedding AS DOUBLE[]) AS cv
                  FROM (SELECT vec_id, embedding FROM embeddings
                        ORDER BY vec_id LIMIT 8)),
            asg AS (
              SELECT vec_id, v, cid, sim FROM (
                SELECT e.vec_id, e.v, c.cid,
                       list_cosine_similarity(e.v, c.cv) AS sim,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.cid) AS rn
                FROM e CROSS JOIN c) WHERE rn = 1),
            dropped AS (
              SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.v, b.v) >= 0.95)
            SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
                   round(sim, 4) AS centroid_sim,
                   vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
            FROM asg
        """,
        "image_curation": IMAGE_MANIFEST_SQL,
        "quality_classifier": f"""
            SELECT label, pos, round(weight, 6) AS weight
            FROM read_parquet('{_FIXTURES}/quality_classifier_sf001.parquet')
        """,
        "incremental_dedup": """
            WITH hist AS (SELECT text FROM documents WHERE doc_id % 3 != 0),
            new AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
              UNION ALL
              SELECT doc_id + 100000, text FROM documents
              WHERE doc_id % 3 = 1 AND doc_id % 5 = 1)
            SELECT doc_id FROM new
            WHERE text NOT IN (SELECT text FROM hist)
        """,
        "cdc_apply": """
            WITH e AS (SELECT * FROM events
                       WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            base AS (
              SELECT user_id, value, event_id FROM (
                SELECT user_id, value, event_id,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM e WHERE ts < TIMESTAMP '2024-01-15')
              WHERE rn = 1),
            ch AS (SELECT user_id, value, event_id,
                          CASE WHEN event_type = 'error' THEN 'delete'
                               ELSE 'upsert' END AS op
                   FROM e WHERE ts >= TIMESTAMP '2024-01-15'),
            latest AS (SELECT * FROM (
                         SELECT ch.*, row_number() OVER (
                             PARTITION BY user_id
                             ORDER BY event_id DESC) AS rn
                         FROM ch) WHERE rn = 1)
            SELECT user_id, event_id, round(value, 6) AS value FROM base
            WHERE user_id NOT IN (SELECT user_id FROM latest)
            UNION ALL
            SELECT user_id, event_id, round(value, 6) FROM latest
            WHERE op <> 'delete'
        """,
        "interval_join": """
            WITH h AS (
              SELECT user_id, ts, max(value) AS state_value
              FROM events
              WHERE event_id % 2 = 0 AND ts IS NOT NULL
              GROUP BY 1, 2),
            cap AS (SELECT max(ts) AS cap FROM h),
            iv AS (
              SELECT user_id, state_value, ts AS valid_from,
                     coalesce(lead(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts),
                              (SELECT cap FROM cap)) AS valid_to
              FROM h),
            p AS (SELECT event_id, user_id, ts AS pt_ts
                  FROM events
                  WHERE event_id % 2 = 1 AND ts IS NOT NULL)
            SELECT p.event_id, p.user_id,
                   round(iv.state_value, 6) AS state_value
            FROM p JOIN iv ON p.user_id = iv.user_id
                          AND p.pt_ts >= iv.valid_from
                          AND p.pt_ts < iv.valid_to
        """,
        "fuzzy_linkage": """
            WITH n AS (
              SELECT doc_id AS id,
                     trim(regexp_replace(regexp_replace(
                          lower(substr(text, 1, 120)),
                          '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
              FROM documents),
            k AS (SELECT id, t,
                         array_to_string(
                             list_sort(string_split(t, ' '))[1:2], ' ')
                             AS bk
                  FROM n WHERE len(t) > 0),
            c AS (SELECT a.id AS id1, b.id AS id2, a.t AS t1, b.t AS t2
                  FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id),
            s AS (SELECT id1, id2,
                         CAST(levenshtein(t1, t2) AS BIGINT) AS dist,
                         1.0 - levenshtein(t1, t2)
                             / greatest(len(t1), len(t2)) AS sim
                  FROM c)
            SELECT id1, id2, dist, round(sim, 6) AS sim
            FROM s WHERE sim >= 0.8
        """,
        "pq_topk": f"""
            WITH cb AS (SELECT subspace, code,
                               CAST(centroid AS DOUBLE[]) AS c
                        FROM read_parquet(
                            '{_FIXTURES}/pq_codebooks.parquet')),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE embedding IS NOT NULL),
            sub AS (SELECT vec_id, g.i AS subspace,
                           v[g.i * 8 + 1 : g.i * 8 + 8] AS sv
                    FROM e, (SELECT unnest(range(0, 8)) AS i) g),
            enc AS (SELECT vec_id, subspace, code FROM (
                      SELECT sub.vec_id, sub.subspace, cb.code,
                             row_number() OVER (
                                 PARTITION BY sub.vec_id, sub.subspace
                                 ORDER BY list_distance(sub.sv, cb.c),
                                          cb.code) AS rn
                      FROM sub JOIN cb USING (subspace))
                    WHERE rn = 1),
            qsub AS (SELECT vec_id AS probe_id, subspace, sv
                     FROM sub WHERE vec_id % 100 = 7),
            lut AS (SELECT qsub.probe_id, qsub.subspace, cb.code,
                           power(list_distance(qsub.sv, cb.c), 2) AS d
                    FROM qsub JOIN cb USING (subspace)),
            ad AS (SELECT lut.probe_id, enc.vec_id AS corpus_id,
                          round(sum(lut.d), 6) AS dist
                   FROM enc JOIN lut ON enc.subspace = lut.subspace
                                    AND enc.code = lut.code
                   GROUP BY 1, 2)
            SELECT probe_id, corpus_id, dist, rank FROM (
              SELECT ad.*, row_number() OVER (PARTITION BY probe_id
                           ORDER BY dist, corpus_id) AS rank
              FROM ad)
            WHERE rank <= 5
        """,
    }


def duckdb_dataset_report_sql() -> str:
    """The dataset_report oracle: the generated profile/expectations
    twins plus inline ROLLUP and heavy-hitter shapes, normalized into
    the same tall (section, entity, metric, value) frame."""
    from modlyn_spark.operators.profile import (
        duckdb_expectations_sql,
        duckdb_profile_sql,
    )

    psql = duckdb_profile_sql(
        "documents",
        columns=["doc_id", "lang", "n_chars", "source", "text"],
        numeric=["doc_id", "n_chars"],
        strings=["text", "lang", "source"],
    )
    esql = duckdb_expectations_sql("documents", _DOC_EXPECTATIONS)
    prof_metrics = [
        "n_rows", "n_null", "n_distinct", "min_num", "max_num",
        "mean", "stddev", "min_len", "max_len",
    ]
    prof_union = " UNION ALL ".join(
        f'SELECT "column" AS entity, \'{m}\' AS metric, '
        f"CAST({m} AS DOUBLE) AS value FROM p"
        for m in prof_metrics
    )
    return f"""
        WITH p AS ({psql}), e AS ({esql})
        SELECT 'profile' AS section, entity, metric, value
        FROM ({prof_union}) WHERE value IS NOT NULL
        UNION ALL
        SELECT 'expectation',
               idx || ':' || expectation || ':' || "column", m,
               CAST(v AS DOUBLE)
        FROM (
          SELECT idx, expectation, "column", 'observed' AS m,
                 observed AS v FROM e
          UNION ALL SELECT idx, expectation, "column", 'threshold',
                 threshold FROM e
          UNION ALL SELECT idx, expectation, "column", 'passed',
                 CASE WHEN passed THEN 1.0 ELSE 0.0 END FROM e)
        UNION ALL
        SELECT 'rollup',
               (CASE WHEN GROUPING(source) = 1 THEN '*'
                     ELSE coalesce(source, '<null>') END) || '|' ||
               (CASE WHEN GROUPING(lang) = 1 THEN '*'
                     ELSE coalesce(lang, '<null>') END),
               'n', CAST(count(*) AS DOUBLE)
        FROM documents GROUP BY ROLLUP(source, lang)
        UNION ALL
        SELECT 'heavy_hitter', source, m, CAST(v AS DOUBLE)
        FROM (
          WITH tot AS (SELECT count(*) AS total FROM documents
                       WHERE source IS NOT NULL),
          h AS (SELECT source, count(*) AS cnt,
                       round(count(*) * 1.0 / (SELECT total FROM tot), 6)
                           AS frac
                FROM documents WHERE source IS NOT NULL GROUP BY source
                HAVING count(*) * 1.0 >= 0.03125 * (SELECT total FROM tot))
          SELECT source, 'count' AS m, cnt AS v FROM h
          UNION ALL SELECT source, 'frac', frac FROM h)
    """


def duckdb_plan_sql_for_driver() -> str:
    """The augmentation_plan oracle, generated from the SAME parameters
    as q_augmentation_plan (epoch 4, seed 1) over the same fixture."""
    from modlyn_spark.functions.augment import duckdb_plan_sql

    sub = (f"(SELECT DISTINCT image_id, w, h "
           f"FROM read_parquet('{_FIXTURES}/images_curation_input.parquet') "
           f"WHERE w IS NOT NULL)")
    return duckdb_plan_sql(sub, epoch=4, seed=1)


def _aspect_oracle_sql() -> str:
    """DuckDB twin of q_aspect_buckets: the SAME ladder (generated by
    the same pure function) inlined as a VALUES relation, argmin via a
    row_number ordered by the identical (dist, -area, bw, bh) key."""
    from modlyn_spark.operators.aspect import bucket_ladder

    vals = ", ".join(f"({bw}, {bh})" for bw, bh in bucket_ladder())
    return f"""
        WITH dims AS (
          SELECT p_partkey AS img,
                 160 + (p_partkey * 7) % 3841 AS w,
                 120 + (p_partkey * 13) % 2161 AS h
          FROM part),
        ladder(bw, bh) AS (VALUES {vals}),
        cand AS (
          SELECT img, w, h, bw, bh,
                 row_number() OVER (PARTITION BY img ORDER BY
                   CAST(greatest(w * bh, bw * h) AS DOUBLE)
                     / CAST(least(w * bh, bw * h) AS DOUBLE),
                   -(bw * bh), bw, bh) AS rn
          FROM dims CROSS JOIN ladder),
        geo AS (
          SELECT img, w, h, bw, bh,
                 greatest(CAST(bw AS DOUBLE) / w,
                          CAST(bh AS DOUBLE) / h) AS scale
          FROM cand WHERE rn = 1),
        g2 AS (
          SELECT *,
                 greatest(CAST(floor(w * scale + 0.5) AS BIGINT),
                          bw) AS rw,
                 greatest(CAST(floor(h * scale + 0.5) AS BIGINT),
                          bh) AS rh
          FROM geo)
        SELECT img, w, h, bw AS bucket_w, bh AS bucket_h,
               round(scale, 8) AS scale, rw, rh,
               CAST(floor((rw - bw) / 2.0) AS BIGINT) AS crop_x,
               CAST(floor((rh - bh) / 2.0) AS BIGINT) AS crop_y
        FROM g2
    """


def _retired_oracle_sql_base() -> dict[str, str]:
    """Oracles for retired_queries() — kept green by the pytest contract
    and ``scripts/driver_mirror.py --retired`` even though the entries no
    longer spend one of the driver's 50 slots."""
    from modlyn_spark.functions.geo import geohash_sql
    from modlyn_spark.operators.profile import (
        duckdb_expectations_sql,
        duckdb_profile_sql,
    )

    return {
        "geohash": f"""
            WITH c AS (
                SELECT c_custkey AS cust,
                       (CAST('0x' || substr(md5(
                            CAST(c_custkey AS VARCHAR) || '|lat'), 1, 8)
                            AS BIGINT) / 4294967296.0) * 120.0 - 60.0 AS lat,
                       (CAST('0x' || substr(md5(
                            CAST(c_custkey AS VARCHAR) || '|lon'), 1, 8)
                            AS BIGINT) / 4294967296.0) * 340.0 - 170.0 AS lon
                FROM customer)
            SELECT cust, {geohash_sql('lat', 'lon', 7)} AS gh FROM c
        """,
        "image_patches": f"""
            SELECT image_id, version, patch_row, patch_col,
                   p_mean, p_std, p_min, p_max
            FROM read_parquet('{_FIXTURES}/patch_features_expected.parquet')
        """,
        "recurring_tiles": f"""
            SELECT tile_fp, n_images, n_tiles
            FROM read_parquet('{_FIXTURES}/recurring_tiles_expected.parquet')
        """,
        "trend_features": """
            WITH d AS (
                SELECT user_id, epoch(ts) AS t, CAST(value AS DOUBLE) AS v
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
            r AS (SELECT user_id,
                         t - min(t) OVER (PARTITION BY user_id) AS x, v
                  FROM d),
            a AS (SELECT user_id, count(*) AS n, max(x) AS span,
                         sum(x) AS sx, sum(x * x) AS sxx_raw,
                         sum(v) AS sv, sum(v * v) AS svv,
                         sum(x * v) AS sxv
                  FROM r GROUP BY 1),
            m AS (SELECT user_id, n, span, sv,
                         sxx_raw - sx * sx / n AS sxx,
                         sxv - sx * sv / n AS sxy,
                         svv - sv * sv / n AS syy,
                         sx
                  FROM a)
            SELECT user_id, n,
                   round(span, 6) AS t_span_s,
                   round(sv / n, 6) AS v_mean,
                   round(sqrt(greatest(syy / n, 0.0)), 6) AS v_std,
                   round(CASE WHEN sxx > 0 THEN sxy / sxx END, 9)
                       AS slope_per_s,
                   round(CASE WHEN sxx > 0
                              THEN (sv - (sxy / sxx) * sx) / n END, 6)
                       AS intercept,
                   round(CASE WHEN sxx > 0 AND syy > 0
                              THEN (sxy * sxy) / (sxx * syy) END, 6) AS r2
            FROM m
        """,
        "quantile_norm": """
            WITH d AS (SELECT doc_id, lang AS g,
                              CAST(n_chars AS DOUBLE) AS v
                       FROM documents WHERE n_chars IS NOT NULL),
            r AS (SELECT doc_id, g, v,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY v, doc_id) AS rk,
                         count(*) OVER (PARTITION BY g) AS n
                  FROM d),
            mx AS (SELECT max(n) AS m FROM r),
            ks AS (SELECT CAST(unnest(range(0, (SELECT m FROM mx)))
                               AS BIGINT) AS k),
            sizes AS (SELECT DISTINCT g, n FROM r),
            pts AS (SELECT g, n, k,
                           CASE WHEN (SELECT m FROM mx) > 1
                                THEN k / ((SELECT m FROM mx) - 1.0)
                                ELSE 0.5 END AS pk
                    FROM sizes, ks),
            br AS (SELECT g, k, pk * (n - 1.0) AS fr FROM pts),
            br2 AS (SELECT g, k,
                           CAST(floor(fr) + 1 AS BIGINT) AS rlo,
                           CAST(ceil(fr) + 1 AS BIGINT) AS rhi,
                           fr - floor(fr) AS w
                    FROM br),
            samp AS (SELECT br2.k,
                            lo.v + br2.w * (hi.v - lo.v) AS q
                     FROM br2
                     JOIN r lo ON lo.g = br2.g AND lo.rk = br2.rlo
                     JOIN r hi ON hi.g = br2.g AND hi.rk = br2.rhi),
            ref AS (SELECT k, avg(q) AS refv FROM samp GROUP BY k),
            pos AS (SELECT doc_id, g, v,
                           CASE WHEN n > 1 THEN (rk - 1.0) / (n - 1.0)
                                ELSE 0.5 END AS p
                    FROM r),
            gp AS (SELECT doc_id, g, v,
                          CASE WHEN (SELECT m FROM mx) > 1
                               THEN p * ((SELECT m FROM mx) - 1)
                               ELSE 0.0 END AS gg
                   FROM pos),
            m2 AS (SELECT doc_id, g, v,
                          CAST(floor(gg) AS BIGINT) AS lo,
                          CAST(ceil(gg) AS BIGINT) AS hi,
                          gg - floor(gg) AS fr
                   FROM gp),
            raw AS (SELECT m2.doc_id, m2.g, m2.v,
                           rl.refv + m2.fr * (rh.refv - rl.refv) AS qr
                    FROM m2
                    JOIN ref rl ON rl.k = m2.lo
                    JOIN ref rh ON rh.k = m2.hi),
            fin AS (SELECT doc_id, g, v,
                           avg(qr) OVER (PARTITION BY g, v) AS qn
                    FROM raw)
            SELECT doc_id, g AS lang, round(qn, 6) AS qnorm FROM fin
        """,
        "mad_outliers": """
            WITH d AS (SELECT event_id, event_type,
                              CAST(value AS DOUBLE) AS v
                       FROM events),
            med AS (SELECT event_type, quantile_cont(v, 0.5) AS m
                    FROM d WHERE v IS NOT NULL GROUP BY 1),
            mad AS (SELECT d.event_type,
                           quantile_cont(abs(v - m), 0.5) AS dd
                    FROM d JOIN med USING (event_type)
                    WHERE v IS NOT NULL GROUP BY 1),
            s AS (SELECT d.event_id, d.event_type, d.v,
                         CASE WHEN v IS NOT NULL
                                   AND dd * 1.4826022185056018 > 0
                              THEN (v - m) / (dd * 1.4826022185056018)
                         END AS z,
                         m, dd
                  FROM d LEFT JOIN med USING (event_type)
                         LEFT JOIN mad USING (event_type))
            SELECT event_id, event_type, round(z, 6) AS robust_z,
                   CASE WHEN v IS NULL THEN FALSE
                        WHEN dd * 1.4826022185056018 > 0
                             THEN abs(z) > 3.5
                        ELSE v <> m END AS is_outlier
            FROM s
        """,
        "concentration": """
            WITH d AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
                       FROM documents WHERE n_chars IS NOT NULL),
            r AS (SELECT g, v,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY v ASC) AS i,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY v DESC) AS rd
                  FROM d),
            a AS (SELECT g, count(*) AS n, sum(v) AS total,
                         sum(i * v) AS swx, sum(v * v) AS sxx,
                         max(CASE WHEN rd = 1 THEN v END) AS top1,
                         sum(CASE WHEN rd <= 10 THEN v END) AS topk
                  FROM r GROUP BY 1)
            SELECT g AS source, n,
                   round(total, 6) AS total,
                   round(CASE WHEN total > 0
                              THEN 2.0 * swx / (n * total)
                                   - (n + 1.0) / n
                              ELSE 0.0 END, 6) AS gini,
                   round(CASE WHEN total > 0 THEN top1 / total END, 6)
                       AS top1_share,
                   round(CASE WHEN total > 0 THEN topk / total END, 6)
                       AS topk_share,
                   round(CASE WHEN sxx > 0 THEN total * total / sxx END, 6)
                       AS n_effective
            FROM a
        """,
        "radius_join": """
            WITH c AS (
                SELECT c_custkey AS cust,
                       (CAST('0x' || substr(md5(
                            CAST(c_custkey AS VARCHAR) || '|lat'), 1, 8)
                            AS BIGINT) / 4294967296.0) * 0.2 + 40.0 AS lat,
                       (CAST('0x' || substr(md5(
                            CAST(c_custkey AS VARCHAR) || '|lon'), 1, 8)
                            AS BIGINT) / 4294967296.0) * 0.3 - 75.0 AS lon
                FROM customer),
            s AS (
                SELECT s_suppkey AS supp,
                       (CAST('0x' || substr(md5(
                            CAST(s_suppkey AS VARCHAR) || '|lat'), 1, 8)
                            AS BIGINT) / 4294967296.0) * 0.2 + 40.0 AS lat,
                       (CAST('0x' || substr(md5(
                            CAST(s_suppkey AS VARCHAR) || '|lon'), 1, 8)
                            AS BIGINT) / 4294967296.0) * 0.3 - 75.0 AS lon
                FROM supplier),
            p AS (
                SELECT c.cust AS cust_l, s.supp AS supp_r,
                       2.0 * 6371000.0 * asin(sqrt(least(
                           sin(radians(s.lat - c.lat) / 2.0)
                             * sin(radians(s.lat - c.lat) / 2.0)
                           + cos(radians(c.lat)) * cos(radians(s.lat))
                             * sin(radians(s.lon - c.lon) / 2.0)
                             * sin(radians(s.lon - c.lon) / 2.0),
                           1.0))) AS dist_m
                FROM c CROSS JOIN s)
            SELECT cust_l, supp_r, round(dist_m, 3) AS dist_m
            FROM p WHERE dist_m <= 600.0
        """,
        "triangle_counts": """
            WITH nn AS (SELECT count(*) AS n FROM documents),
            g AS (
                SELECT doc_id AS src,
                       CAST('0x' || substr(md5(
                           CAST(doc_id AS VARCHAR) || '|'
                           || CAST(j AS VARCHAR) || '|pr'), 1, 15)
                           AS BIGINT) % nn.n AS dst
                FROM documents, unnest(range(0, 3)) AS u(j), nn),
            e AS (SELECT DISTINCT least(src, dst) AS x,
                                  greatest(src, dst) AS y
                  FROM g WHERE src <> dst),
            t AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
                  FROM e e1
                  JOIN e e2 ON e2.x = e1.y
                  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
            corners AS (
                SELECT a AS node FROM t
                UNION ALL SELECT b FROM t
                UNION ALL SELECT c FROM t)
            SELECT node, count(*) AS n_triangles
            FROM corners GROUP BY 1
        """,
        "path_transitions": """
            WITH s AS (
                SELECT event_type AS event,
                       coalesce(lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id), '__END__') AS next_event
                FROM events WHERE event_type IS NOT NULL),
            c AS (SELECT event, next_event, count(*) AS n
                  FROM s GROUP BY 1, 2)
            SELECT event, next_event, n,
                   round(n / sum(n) OVER (PARTITION BY event), 6) AS p
            FROM c
        """,
        "top_paths": """
            WITH r AS (
                SELECT user_id, event_type,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
                FROM events WHERE event_type IS NOT NULL),
            pp AS (
                SELECT user_id,
                       string_agg(event_type, '>' ORDER BY rn) AS path,
                       count(*) AS path_len
                FROM r WHERE rn <= 3 GROUP BY user_id)
            SELECT path, path_len, count(*) AS n_entities
            FROM pp GROUP BY 1, 2
        """,
        "weighted_take": """
            WITH d AS (
                SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS w,
                       CAST(doc_id AS VARCHAR) || '|wt5' AS k
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0),
            r AS (
                SELECT doc_id, lang, row_number() OVER (
                    PARTITION BY lang ORDER BY
                        -ln((CAST('0x' || substr(md5(k), 1, 8) AS BIGINT)
                             + 0.5) / 4294967296.0) / w,
                        k) AS rn
                FROM d)
            SELECT doc_id, lang FROM r WHERE rn <= 40
        """,
        "frequent_pairs": """
            WITH tok AS (
                SELECT doc_id AS b,
                       unnest(regexp_split_to_array(lower(text), '\\s+')) AS i
                FROM documents),
            tk AS (SELECT DISTINCT b, i FROM tok WHERE i <> ''),
            nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM tk),
            ic AS (SELECT i, count(*) AS n_item FROM tk GROUP BY 1),
            freq AS (SELECT ic.i, ic.n_item FROM ic, nb
                     WHERE ic.n_item >= 0.25 * nb.n),
            kept AS (SELECT tk.b, tk.i FROM tk
                     JOIN freq ON tk.i = freq.i),
            co AS (SELECT a.i AS item_a, c.i AS item_b,
                          count(*) AS n_ab
                   FROM kept a JOIN kept c
                     ON a.b = c.b AND a.i < c.i
                   GROUP BY 1, 2)
            SELECT item_a, item_b, fa.n_item AS n_a, fb.n_item AS n_b,
                   n_ab,
                   round(n_ab / nb.n, 6) AS support,
                   round(n_ab / fa.n_item, 6) AS conf_a_to_b,
                   round(n_ab / fb.n_item, 6) AS conf_b_to_a,
                   round((n_ab * nb.n) / (fa.n_item * fb.n_item), 6)
                       AS lift
            FROM co
            JOIN freq fa ON co.item_a = fa.i
            JOIN freq fb ON co.item_b = fb.i, nb
            WHERE n_ab >= 0.25 * nb.n
        """,
        "history_features": """
            WITH pr AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_id % 10 = 3),
            m AS (SELECT p.event_id, e.value,
                         row_number() OVER (
                             PARTITION BY p.event_id
                             ORDER BY e.ts DESC, e.event_id DESC) AS pos
                  FROM pr p JOIN events e
                    ON p.user_id = e.user_id AND e.ts <= p.ts)
            SELECT event_id, CAST(pos AS BIGINT) AS pos,
                   round(value, 6) AS value
            FROM m WHERE pos <= 5
        """,
        "agg_maintainer": """
            WITH s2 AS (
              SELECT o_orderpriority AS g,
                     CASE WHEN o_orderkey % 17 = 0 THEN NULL
                          ELSE CAST(o_orderkey % 100 AS BIGINT)
                               + CASE WHEN o_orderkey % 5 = 0 THEN 22
                                      ELSE 0 END
                     END AS v
              FROM orders WHERE o_orderkey % 3 <> 2)
            SELECT g, count(*) AS n, count(v) AS nn_v,
                   CAST(sum(v) AS BIGINT) AS sum_v
            FROM s2 GROUP BY g
        """,
        "attribution": """
            WITH t AS (SELECT user_id, event_id AS tid,
                              epoch(ts) AS tt FROM events
                       WHERE event_type IN ('click', 'view')),
            c AS (SELECT user_id, event_id AS cid, epoch(ts) AS ct
                  FROM events WHERE event_type = 'purchase'),
            p AS (SELECT c.cid, t.tid,
                         row_number() OVER (PARTITION BY c.cid
                             ORDER BY t.tt DESC, t.tid DESC) AS pos,
                         row_number() OVER (PARTITION BY c.cid
                             ORDER BY t.tt ASC, t.tid ASC) AS pa,
                         count(*) OVER (PARTITION BY c.cid) AS n
                  FROM c JOIN t ON c.user_id = t.user_id
                     AND t.tt >= c.ct - 86400 AND t.tt < c.ct)
            SELECT cid, tid, CAST(pos AS BIGINT) AS pos,
                   CAST(n AS BIGINT) AS n_touches,
                   round(CASE WHEN n = 1 THEN 1.0
                              WHEN n = 2 THEN 0.5
                              WHEN pa = 1 THEN 0.4
                              WHEN pos = 1 THEN 0.4
                              ELSE 0.2 / (n - 2) END, 6) AS credit
            FROM p
        """,
        "golden_records": """
            WITH agg AS (SELECT user_id, min(event_id) AS canonical_id,
                                count(*) AS n_records FROM events GROUP BY 1),
            lat AS (SELECT user_id, value FROM (
                SELECT user_id, value, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY (value IS NULL) ASC, ts DESC, event_id DESC
                ) AS rn FROM events) WHERE rn = 1),
            md AS (SELECT user_id, event_type FROM (
                SELECT user_id, event_type, row_number() OVER (
                    PARTITION BY user_id ORDER BY c DESC, event_type ASC
                ) AS rn FROM (
                    SELECT user_id, event_type, count(*) AS c FROM events
                    WHERE event_type IS NOT NULL GROUP BY 1, 2)) WHERE rn = 1)
            SELECT agg.user_id, canonical_id, n_records,
                   round(lat.value, 6) AS value, md.event_type
            FROM agg LEFT JOIN lat USING (user_id)
                     LEFT JOIN md USING (user_id)
        """,
        "table_profile": duckdb_profile_sql(
            "documents",
            columns=["doc_id", "lang", "n_chars", "source", "text"],
            numeric=["doc_id", "n_chars"],
            strings=["text", "lang", "source"],
        ),
        "expectations": duckdb_expectations_sql(
            "documents", _DOC_EXPECTATIONS
        ),
        "heavy_hitters": r"""
            WITH w AS (
              SELECT unnest(regexp_split_to_array(lower(text), '\s+'))
                     AS token
              FROM documents
            ), f AS (SELECT token FROM w WHERE token <> ''),
            tot AS (SELECT count(*) AS total FROM f)
            SELECT token, count(*) AS count,
                   (SELECT total FROM tot) AS total,
                   round(count(*) * 1.0 / (SELECT total FROM tot), 6)
                     AS frac
            FROM f GROUP BY token
            HAVING count(*) * 1.0 >= 0.00390625 * (SELECT total FROM tot)
        """,
        "neg_samples": """
            WITH pool AS (SELECT DISTINCT doc_id AS item FROM documents),
            idx AS (SELECT item,
                           row_number() OVER (ORDER BY
                               CAST(('0x' || substr(md5(
                                   CAST(item AS VARCHAR)), 1, 15))
                                   AS BIGINT) % 256, item) - 1 AS i
                    FROM pool),
            np AS (SELECT count(*) AS n FROM pool),
            anchors AS (SELECT DISTINCT doc_id AS anchor FROM documents
                        WHERE doc_id % 10 = 0),
            pos AS (SELECT doc_id AS anchor, doc_id + 1 AS item
                    FROM documents WHERE doc_id % 10 = 0),
            draws AS (SELECT anchor, unnest(range(0, 12)) AS slot
                      FROM anchors),
            hashed AS (SELECT anchor, slot,
                              CAST(('0x' || substr(md5(
                                  anchor || '|' || slot || '|0'), 1, 15))
                                  AS BIGINT) % (SELECT n FROM np) AS i
                       FROM draws),
            cand AS (SELECT h.anchor, h.slot, idx.item
                     FROM hashed h JOIN idx USING (i)
                     WHERE NOT EXISTS (SELECT 1 FROM pos
                                       WHERE pos.anchor = h.anchor
                                         AND pos.item = idx.item)
                       AND CAST(idx.item AS VARCHAR)
                           <> CAST(h.anchor AS VARCHAR)),
            dedup AS (SELECT * FROM (
                        SELECT cand.*, row_number() OVER (
                            PARTITION BY anchor, item
                            ORDER BY slot) AS rd
                        FROM cand) WHERE rd = 1)
            SELECT anchor, item, slot FROM (
              SELECT dedup.*, row_number() OVER (
                  PARTITION BY anchor ORDER BY slot) AS rk
              FROM dedup) WHERE rk <= 4
        """,
        "zorder_key": """
            WITH st AS (
              SELECT CAST(min(o_custkey) AS DOUBLE) AS mnx,
                     CAST(max(o_custkey) AS DOUBLE) AS mxx,
                     min(epoch(o_orderdate)) AS mny,
                     max(epoch(o_orderdate)) AS mxy
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
            r AS (
              SELECT o_orderkey,
                     CAST(floor(((o_custkey - mnx) / (mxx - mnx)) * 65535.0) AS BIGINT) AS rx,
                     CAST(floor(((epoch(o_orderdate) - mny) / (mxy - mny)) * 65535.0) AS BIGINT) AS ry
              FROM orders, st
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL)
            SELECT o_orderkey, ((((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 0) & 1) << 0) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 1) & 1) << 2) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 2) & 1) << 4) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 3) & 1) << 6) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 4) & 1) << 8) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 5) & 1) << 10) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 6) & 1) << 12) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 7) & 1) << 14) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 8) & 1) << 16) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 9) & 1) << 18) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 10) & 1) << 20) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 11) & 1) << 22) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 12) & 1) << 24) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 13) & 1) << 26) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 14) & 1) << 28) + (((least(greatest(CAST(rx AS BIGINT), 0), 65535) >> 15) & 1) << 30) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 0) & 1) << 1) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 1) & 1) << 3) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 2) & 1) << 5) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 3) & 1) << 7) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 4) & 1) << 9) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 5) & 1) << 11) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 6) & 1) << 13) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 7) & 1) << 15) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 8) & 1) << 17) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 9) & 1) << 19) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 10) & 1) << 21) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 11) & 1) << 23) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 12) & 1) << 25) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 13) & 1) << 27) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 14) & 1) << 29) + (((least(greatest(CAST(ry AS BIGINT), 0), 65535) >> 15) & 1) << 31)) AS zkey FROM r
        """,
        "resample": """
            WITH e AS (SELECT user_id,
                              CAST(floor(epoch(ts) / 86400.0) AS BIGINT)
                                  AS b,
                              value
                       FROM events
                       WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            per AS (SELECT user_id, b, avg(value) AS v, count(*) AS n
                    FROM e GROUP BY 1, 2),
            span AS (SELECT user_id, min(b) AS lo, max(b) AS hi
                     FROM per GROUP BY 1),
            grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b
                     FROM span),
            j AS (SELECT g.user_id, g.b, per.v, per.n
                  FROM grid g LEFT JOIN per USING (user_id, b))
            SELECT user_id, round(b * 86400.0, 6) AS bucket_ts,
                   round(last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY b
                       ROWS UNBOUNDED PRECEDING), 6) AS v_avg,
                   coalesce(n, 0) AS n
            FROM j
        """,
        "feature_corr": """
            WITH l AS (
              SELECT vec_id, g.i AS pos, CAST(embedding[g.i + 1] AS DOUBLE) AS x
              FROM embeddings, (SELECT unnest(range(0, 64)) AS i) g
              WHERE embedding IS NOT NULL)
            SELECT a.pos AS f1, b.pos AS f2, round(corr(a.x, b.x), 4) AS corr
            FROM l a JOIN l b ON a.vec_id = b.vec_id AND a.pos < b.pos
            GROUP BY 1, 2
        """,
        "compact_history": """
            WITH w AS (
              SELECT event_id, user_id, event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev,
                     row_number() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS rn
              FROM events)
            SELECT event_id, user_id, event_type FROM w
            WHERE rn = 1 OR event_type IS DISTINCT FROM prev
        """,
        "training_table": f"""
            WITH pu AS ({_PURCHASE_STATE_SQL}),
            cp AS (
              SELECT user_id, ts, purchase_value FROM (
                SELECT user_id, ts, purchase_value,
                       lag(purchase_value) OVER (PARTITION BY user_id
                           ORDER BY ts) AS pv,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY ts) AS rn
                FROM pu)
              WHERE rn = 1 OR purchase_value IS DISTINCT FROM pv),
            pr AS ({_PROBES_SQL}),
            j AS (
              SELECT pr.event_id, pr.user_id, pr.feature_ts,
                     cp.purchase_value, cp.ts AS state_ts
              FROM pr ASOF LEFT JOIN cp
                ON pr.user_id = cp.user_id AND cp.ts <= pr.feature_ts)
            SELECT event_id, user_id,
                   round(purchase_value, 4) AS purchase_value,
                   state_ts,
                   round(epoch(feature_ts) - epoch(state_ts), 4) AS age_sec,
                   CASE WHEN feature_ts < TIMESTAMP '2024-01-20 00:00:00'
                        THEN 'train'
                        WHEN feature_ts < TIMESTAMP '2024-01-22 00:00:00'
                        THEN 'embargo'
                        ELSE 'test' END AS split,
                   CAST(floor(CAST(('0x' || substr(md5(
                        CAST(event_id AS VARCHAR) || '|tt'), 1, 8))
                        AS BIGINT) / 4294967296.0 * 4.0) AS BIGINT) AS fold
            FROM j
        """,
        "quantile_bins": """
            WITH t AS (SELECT o_orderkey, o_totalprice,
                              round(o_totalprice, 2) AS v
                       FROM orders),
            h AS (SELECT v, count(*) AS c FROM t WHERE v IS NOT NULL
                  GROUP BY v),
            w AS (SELECT v, sum(c) OVER (ORDER BY v) - c AS a,
                         sum(c) OVER (ORDER BY v) AS cum,
                         sum(c) OVER () AS n FROM h),
            q AS (SELECT min(CASE WHEN cum >= GREATEST(CAST(ceil(n * 250000 / 1000000.0) AS BIGINT), 1) THEN v END) AS q25,
                         min(CASE WHEN cum >= GREATEST(CAST(ceil(n * 500000 / 1000000.0) AS BIGINT), 1) THEN v END) AS q50,
                         min(CASE WHEN cum >= GREATEST(CAST(ceil(n * 750000 / 1000000.0) AS BIGINT), 1) THEN v END) AS q75
                  FROM w)
            SELECT t.o_orderkey, CAST((w.a * 8) // w.n AS BIGINT) AS bin,
                   round((t.o_totalprice - q.q50) / (q.q75 - q.q25), 4)
                       AS robust
            FROM t JOIN w USING (v) CROSS JOIN q
        """,
        "chi2_scores": """
            WITH m AS (
              SELECT 'source' AS feature, source AS value, lang AS label
              FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
              UNION ALL
              SELECT 'lang', lang, lang FROM documents
              WHERE lang IS NOT NULL),
            cells AS (SELECT feature, value, label, count(*) AS c
                      FROM m GROUP BY 1, 2, 3),
            g AS (SELECT feature, value, label, c,
                         sum(c) OVER (PARTITION BY feature, value) AS rt,
                         sum(c) OVER (PARTITION BY feature, label) AS ct,
                         sum(c) OVER (PARTITION BY feature) AS n
                  FROM cells)
            SELECT feature,
                   round(sum(CAST(c AS DOUBLE) * c * n / (rt * ct))
                         - CAST(max(n) AS DOUBLE), 4) AS chi2,
                   CAST((count(DISTINCT value) - 1)
                        * (count(DISTINCT label) - 1) AS BIGINT) AS dof,
                   CAST(max(n) AS BIGINT) AS n
            FROM g GROUP BY feature
        """,
        "woe_iv": """
            WITH pv AS (
              SELECT 'source' AS feature, source AS value,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_pos,
                     sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_neg
              FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY 1, 2),
            j AS (SELECT feature, value, n_pos, n_neg,
                         (n_pos + 0.5) / (sum(n_pos) OVER (PARTITION BY feature)
                             + 0.5 * count(*) OVER (PARTITION BY feature)) AS p,
                         (n_neg + 0.5) / (sum(n_neg) OVER (PARTITION BY feature)
                             + 0.5 * count(*) OVER (PARTITION BY feature)) AS q
                  FROM pv)
            SELECT feature, value,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(n_neg AS BIGINT) AS n_neg,
                   round(ln(p / q), 6) AS woe,
                   round(sum((p - q) * ln(p / q))
                         OVER (PARTITION BY feature), 6) AS iv
            FROM j
        """,
        "image_features": f"""
            SELECT image_id, version, decode_ok, brightness, contrast,
                   blur_var, grad_energy, entropy_bits, colorfulness
            FROM read_parquet('{_FIXTURES}/image_features_expected.parquet')
        """,
        "tfidf_vectors": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                         AS token
              FROM documents),
            p AS (SELECT doc_id, token, count(*) AS tf
                  FROM tok GROUP BY 1, 2),
            d AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM p),
            raw AS (
              SELECT p.doc_id, p.token,
                     p.tf * (ln((1.0 + n.n_docs) / (1.0 + d.df)) + 1.0)
                         AS r
              FROM p JOIN d USING (token) CROSS JOIN n
              WHERE d.df >= 2)
            SELECT doc_id, token,
                   round(r / sqrt(sum(r * r)
                         OVER (PARTITION BY doc_id)), 6) AS tfidf
            FROM raw
        """,
        "roc_auc": """
            WITH t AS (
              SELECT round(CAST(embedding[1] AS DOUBLE), 4) AS s,
                     CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
              FROM embeddings
              WHERE embedding IS NOT NULL AND label IS NOT NULL),
            h AS (SELECT s, sum(y) AS cp, sum(1 - y) AS cn
                  FROM t GROUP BY s),
            r AS (SELECT cp, cn,
                         sum(cp + cn) OVER (ORDER BY s) - (cp + cn)
                             AS before_,
                         cp + cn AS c
                  FROM h),
            a AS (SELECT sum(cp * (before_ + (c + 1) / 2.0)) AS rpos,
                         sum(cp) AS np, sum(cn) AS nn
                  FROM r)
            SELECT round((rpos - np * (np + 1) / 2.0) / (np * nn), 6)
                       AS auc,
                   CAST(np AS BIGINT) AS n_pos,
                   CAST(nn AS BIGINT) AS n_neg
            FROM a
        """,
        "snapshot_diff": """
            WITH o AS (SELECT * FROM customer),
            n AS (SELECT c_custkey, c_name, c_nationkey,
                         CASE WHEN c_custkey % 3 = 1
                              THEN c_acctbal + 10.0
                              ELSE c_acctbal END AS c_acctbal,
                         c_mktsegment
                  FROM customer WHERE c_custkey % 3 <> 0),
            j AS (SELECT o.c_custkey AS ko, n.c_custkey AS kn,
                         o.c_name AS o_name, n.c_name AS n_name,
                         o.c_nationkey AS o_nk, n.c_nationkey AS n_nk,
                         o.c_acctbal AS o_bal, n.c_acctbal AS n_bal,
                         o.c_mktsegment AS o_seg, n.c_mktsegment AS n_seg
                  FROM o FULL OUTER JOIN n
                    ON o.c_custkey = n.c_custkey),
            d AS (SELECT *,
                         CASE WHEN ko IS NULL THEN 'insert'
                              WHEN kn IS NULL THEN 'delete'
                              WHEN (o_name IS DISTINCT FROM n_name)
                                OR (o_nk IS DISTINCT FROM n_nk)
                                OR (o_bal IS DISTINCT FROM n_bal)
                                OR (o_seg IS DISTINCT FROM n_seg)
                                   THEN 'update'
                         END AS op
                  FROM j)
            SELECT coalesce(kn, ko) AS c_custkey,
                   CASE WHEN op = 'delete' THEN o_name ELSE n_name END
                       AS c_name,
                   CASE WHEN op = 'delete' THEN o_nk ELSE n_nk END
                       AS c_nationkey,
                   round(CASE WHEN op = 'delete' THEN o_bal
                              ELSE n_bal END, 6) AS c_acctbal,
                   CASE WHEN op = 'delete' THEN o_seg ELSE n_seg END
                       AS c_mktsegment,
                   op
            FROM d WHERE op IS NOT NULL
        """,
        "welch_ab": """
            WITH per AS (
              SELECT event_type AS g, count(value) AS n, avg(value) AS m,
                     var_samp(value) AS v
              FROM events WHERE event_type IS NOT NULL GROUP BY 1),
            c AS (SELECT n AS nc, m AS mc, v AS vc FROM per
                  WHERE g = 'view')
            SELECT per.g AS "group", 'value' AS metric,
                   per.n AS n_t, round(per.m, 6) AS mean_t,
                   c.nc AS n_c, round(c.mc, 6) AS mean_c,
                   round((per.m - c.mc) / c.mc, 6) AS lift,
                   round((per.m - c.mc)
                         / sqrt(per.v / per.n + c.vc / c.nc), 6) AS t,
                   round(pow(per.v / per.n + c.vc / c.nc, 2)
                         / (pow(per.v / per.n, 2) / (per.n - 1)
                            + pow(c.vc / c.nc, 2) / (c.nc - 1)), 4) AS df
            FROM per, c WHERE per.g <> 'view'
        """,
        "cohort_retention": """
            WITH up AS (
              SELECT DISTINCT user_id,
                     CAST(floor(epoch(ts) / 604800.0) AS BIGINT) AS period
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            f AS (SELECT user_id, min(period) AS cohort FROM up
                  GROUP BY 1),
            tri AS (SELECT f.cohort, up.period - f.cohort AS "offset",
                           count(*) AS users
                    FROM up JOIN f USING (user_id) GROUP BY 1, 2),
            sz AS (SELECT cohort, users AS cohort_size FROM tri
                   WHERE "offset" = 0)
            SELECT tri.cohort, tri."offset", tri.users, sz.cohort_size,
                   round(tri.users * 1.0 / sz.cohort_size, 6) AS retention
            FROM tri JOIN sz USING (cohort)
        """,
        "funnel": """
            WITH e AS (SELECT user_id, epoch(ts) AS t, event_type
                       FROM events
                       WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            s1 AS (SELECT user_id, min(t) AS t1 FROM e
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(t) AS t2
                   FROM e JOIN s1 USING (user_id)
                   WHERE event_type = 'click' AND t > t1
                     AND t <= t1 + 86400.0 GROUP BY 1),
            s3 AS (SELECT e.user_id, min(t) AS t3
                   FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
                   WHERE event_type = 'purchase' AND t > t2
                     AND t <= t1 + 86400.0 GROUP BY 1)
            SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
                   (SELECT count(*) FROM s1) AS users
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)
        """,
        "maha_outliers": f"""
            SELECT vec_id, maha_sq
            FROM read_parquet('{_FIXTURES}/maha_outliers_sf001.parquet')
        """,
        "pagerank_hosts": f"""
            SELECT node, rank
            FROM read_parquet('{_FIXTURES}/pagerank_sf001.parquet')
        """,
        "incremental_agg": """
            WITH nw AS (
              SELECT CASE WHEN o_orderkey % 13 = 0 THEN '9-SYNTH'
                          ELSE o_orderpriority END AS g,
                     CASE WHEN o_orderkey % 17 = 0 THEN NULL
                          ELSE CAST(o_orderkey % 100 AS BIGINT)
                               + CASE WHEN o_orderkey % 5 = 0 THEN 17
                                      ELSE 0 END
                     END AS v
              FROM orders WHERE o_orderkey % 19 <> 0)
            SELECT g, count(*) AS n, count(v) AS nn_v,
                   CAST(sum(v) AS BIGINT) AS sum_v
            FROM nw GROUP BY g
        """,
        "source_lang_rollup": """
            SELECT source, lang,
                   CAST(GROUPING(source, lang) AS BIGINT) AS gid,
                   CAST(
                     CASE WHEN GROUPING(source, lang) = 0 THEN 0
                          WHEN GROUPING(source, lang) = 1 THEN 1
                          ELSE 2 END AS INT) AS level,
                   count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY ROLLUP(source, lang)
        """,
        "contrastive_pairs": f"""
            WITH manifest AS ({IMAGE_MANIFEST_SQL}),
            mf AS (SELECT image_id, caption FROM manifest
                   WHERE split = 'train'),
            np AS (SELECT count(*) AS n FROM mf),
            idx AS (SELECT image_id AS item, caption,
                           row_number() OVER (ORDER BY
                               CAST(('0x' || substr(md5(image_id), 1, 15))
                                   AS BIGINT) % 256, image_id) - 1 AS i
                    FROM mf),
            draws AS (SELECT image_id AS anchor,
                             unnest(range(0, 12)) AS slot
                      FROM mf),
            hashed AS (SELECT anchor, slot,
                              CAST(('0x' || substr(md5(
                                  anchor || '|' || slot || '|0'), 1, 15))
                                  AS BIGINT) % (SELECT n FROM np) AS i
                       FROM draws),
            cand AS (SELECT h.anchor, h.slot, idx.item, idx.caption
                     FROM hashed h JOIN idx USING (i)
                     WHERE idx.item <> h.anchor),
            dedup AS (SELECT * FROM (
                        SELECT cand.*, row_number() OVER (
                            PARTITION BY anchor, item ORDER BY slot) AS rd
                        FROM cand) WHERE rd = 1),
            topk AS (SELECT * FROM (
                       SELECT dedup.*, row_number() OVER (
                           PARTITION BY anchor ORDER BY slot) AS rk
                       FROM dedup) WHERE rk <= 4)
            SELECT image_id AS anchor, image_id AS item, caption,
                   1 AS label, CAST(-1 AS BIGINT) AS slot
            FROM mf
            UNION ALL
            SELECT anchor, item, caption, 0 AS label,
                   CAST(slot AS BIGINT) AS slot
            FROM topk
        """,
        "ovr_auc": """
            WITH t AS (
              SELECT cls,
                     round(CAST(embedding[cls + 1] AS DOUBLE), 4) AS s,
                     CASE WHEN label = cls THEN 1 ELSE 0 END AS y
              FROM embeddings, unnest(range(0, 10)) AS u(cls)
              WHERE embedding IS NOT NULL AND label IS NOT NULL),
            h AS (SELECT cls, s, sum(y) AS cp, sum(1 - y) AS cn
                  FROM t GROUP BY cls, s),
            r AS (SELECT cls, cp, cn,
                         sum(cp + cn) OVER (PARTITION BY cls ORDER BY s)
                             - (cp + cn) AS before_,
                         cp + cn AS c
                  FROM h),
            a AS (SELECT cls,
                         sum(cp * (before_ + (c + 1) / 2.0)) AS rpos,
                         sum(cp) AS np, sum(cn) AS nn
                  FROM r GROUP BY cls)
            SELECT CAST(cls AS INT) AS cls,
                   round((rpos - np * (np + 1) / 2.0) / (np * nn), 6)
                       AS auc,
                   CAST(np AS BIGINT) AS n_pos,
                   CAST(nn AS BIGINT) AS n_neg
            FROM a
        """,
        "augmentation_plan": duckdb_plan_sql_for_driver(),
        "bootstrap_ci": __import__(
            "modlyn_spark.scoring.abtest", fromlist=["duckdb_bootstrap_sql"]
        ).duckdb_bootstrap_sql(
            "events", "value", ["event_type"],
            "CAST(event_id AS VARCHAR)", b=50, seed=2,
        ),
        "dataset_report": duckdb_dataset_report_sql(),
        "bootstrap_lift": __import__(
            "modlyn_spark.scoring.abtest", fromlist=["duckdb_lift_sql"]
        ).duckdb_lift_sql(
            "events", "value", "event_type",
            "CAST(event_id AS VARCHAR)", control="view", b=50, seed=3,
        ),
        "isotonic_fit": f"""
            SELECT block, round(score_lo, 6) AS score_lo,
                   round(score_hi, 6) AS score_hi,
                   round(p_cal, 6) AS p_cal,
                   CAST(n AS BIGINT) AS n
            FROM read_parquet('{_FIXTURES}/isotonic_blocks_sf001.parquet')
        """,
        "pq_encode": f"""
            WITH cb AS (SELECT subspace, code,
                               CAST(centroid AS DOUBLE[]) AS c
                        FROM read_parquet(
                            '{_FIXTURES}/pq_codebooks.parquet')),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE embedding IS NOT NULL),
            sub AS (SELECT vec_id, g.i AS subspace,
                           v[g.i * 8 + 1 : g.i * 8 + 8] AS sv
                    FROM e, (SELECT unnest(range(0, 8)) AS i) g),
            enc AS (SELECT vec_id, subspace, code FROM (
                      SELECT sub.vec_id, sub.subspace, cb.code,
                             row_number() OVER (
                                 PARTITION BY sub.vec_id, sub.subspace
                                 ORDER BY list_distance(sub.sv, cb.c),
                                          cb.code) AS rn
                      FROM sub JOIN cb USING (subspace))
                    WHERE rn = 1)
            SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
                   CAST(code AS BIGINT) AS code
            FROM enc
        """,
        "avg_precision": """
            WITH t AS (
              SELECT round(CAST(embedding[1] AS DOUBLE), 4) AS s,
                     CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
              FROM embeddings
              WHERE embedding IS NOT NULL AND label IS NOT NULL),
            h AS (SELECT s, sum(y) AS cp, sum(1 - y) AS cn
                  FROM t GROUP BY s),
            r AS (SELECT cp,
                         sum(cp) OVER (ORDER BY s DESC) AS tp,
                         sum(cp + cn) OVER (ORDER BY s DESC) AS k,
                         sum(cp) OVER () AS np,
                         sum(cn) OVER () AS nn
                  FROM h)
            SELECT round(sum((cp * 1.0 / np) * (tp * 1.0 / k)), 6) AS ap,
                   CAST(max(np) AS BIGINT) AS n_pos,
                   CAST(max(nn) AS BIGINT) AS n_neg
            FROM r
        """,
        "calibration": """
            WITH t AS (
              SELECT CAST(embedding[1] AS DOUBLE) + 0.5 AS p,
                     CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
              FROM embeddings
              WHERE embedding IS NOT NULL AND label IS NOT NULL),
            per AS (
              SELECT LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
                     count(*) AS n, avg(p) AS conf, avg(y) AS acc
              FROM t GROUP BY 1)
            SELECT bin, CAST(n AS BIGINT) AS n,
                   round(conf, 6) AS conf, round(acc, 6) AS acc,
                   round(sum(n * abs(acc - conf)) OVER ()
                         / sum(n) OVER (), 6) AS ece
            FROM per
        """,
        "psi_drift": """
            WITH l AS (
              SELECT vec_id, g.i AS pos,
                     CAST(embedding[g.i + 1] AS DOUBLE) AS x,
                     vec_id % 2 = 0 AS is_ref
              FROM embeddings, (SELECT unnest(range(0, 64)) AS i) g
              WHERE embedding IS NOT NULL),
            e AS (SELECT pos, min(x) AS mn, max(x) AS mx
                  FROM l WHERE is_ref GROUP BY 1),
            b AS (SELECT l.pos, l.is_ref,
                         LEAST(GREATEST(CAST(floor((l.x - e.mn) /
                             (CASE WHEN e.mx > e.mn
                                   THEN (e.mx - e.mn) / 10.0
                                   ELSE 1.0 END)) AS BIGINT), 0), 9) AS bin
                  FROM l JOIN e USING (pos)),
            cnt AS (SELECT pos, bin,
                           sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cp,
                           sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cq
                    FROM b GROUP BY 1, 2),
            n AS (SELECT pos, sum(cp) AS np, sum(cq) AS nq
                  FROM cnt GROUP BY 1)
            SELECT c.pos,
                   CAST(max(n.np) AS BIGINT) AS n_ref,
                   CAST(max(n.nq) AS BIGINT) AS n_new,
                   round(sum(
                       (GREATEST(c.cp * 1.0 / n.np, 1e-06)
                        - GREATEST(c.cq * 1.0 / n.nq, 1e-06))
                       * ln(GREATEST(c.cp * 1.0 / n.np, 1e-06)
                            / GREATEST(c.cq * 1.0 / n.nq, 1e-06))), 4) AS psi
            FROM cnt c JOIN n USING (pos)
            GROUP BY 1
        """,
        "standardize": """
            WITH l AS (
              SELECT vec_id, g.i AS pos,
                     CAST(embedding[g.i + 1] AS DOUBLE) AS x
              FROM embeddings, (SELECT unnest(range(0, 64)) AS i) g
              WHERE embedding IS NOT NULL),
            s AS (SELECT pos, avg(x) AS mn,
                         CASE WHEN var_pop(x) > 0 THEN sqrt(var_pop(x))
                              ELSE 1.0 END AS sd
                  FROM l GROUP BY 1)
            SELECT l.vec_id, l.pos, round((l.x - s.mn) / s.sd, 4) AS zv
            FROM l JOIN s USING (pos)
        """,
        "time_split": """
            SELECT event_id,
                   CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
                        THEN 'train'
                        WHEN ts < TIMESTAMP '2024-01-22 00:00:00'
                        THEN 'embargo'
                        ELSE 'test' END AS split
            FROM events
        """,
        "mi_scores": """
            WITH l AS (
              SELECT vec_id, label, g.i AS pos,
                     CAST(embedding[g.i + 1] AS DOUBLE) AS x
              FROM embeddings, (SELECT unnest(range(0, 64)) AS i) g
              WHERE embedding IS NOT NULL AND label IS NOT NULL),
            e AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM l GROUP BY 1),
            b AS (SELECT l.vec_id, l.label, l.pos,
                         CASE WHEN e.mx > e.mn
                              THEN LEAST(CAST(floor((l.x - e.mn) /
                                   ((e.mx - e.mn) / 10.0)) AS BIGINT), 9)
                              ELSE 0 END AS bin
                  FROM l JOIN e USING (pos)),
            j AS (SELECT pos, bin, label, count(*) AS c FROM b GROUP BY 1, 2, 3),
            mb AS (SELECT pos, bin, sum(c) AS cb FROM j GROUP BY 1, 2),
            ml AS (SELECT pos, label, sum(c) AS cl FROM j GROUP BY 1, 2),
            nt AS (SELECT pos, sum(c) AS n FROM j GROUP BY 1)
            SELECT j.pos,
                   round(GREATEST(sum(CAST(j.c AS DOUBLE) / nt.n *
                         ln(CAST(j.c AS DOUBLE) * nt.n / (mb.cb * ml.cl))),
                         0.0), 4) AS mi
            FROM j
            JOIN mb USING (pos, bin)
            JOIN ml ON j.pos = ml.pos AND j.label = ml.label
            JOIN nt USING (pos)
            GROUP BY 1
        """,
        "target_encode": """
            WITH b AS (
              SELECT o_orderpriority AS cat, o_totalprice AS y, o_orderkey,
                     CAST(floor(CAST(('0x' || substr(md5(
                          CAST(o_orderkey AS VARCHAR) || '|te'), 1, 8))
                          AS BIGINT) / 4294967296.0 * 5.0) AS BIGINT) AS fold
              FROM orders),
            a AS (SELECT cat, fold, sum(y) AS s, count(y) AS c
                  FROM b GROUP BY 1, 2),
            fl AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4)) t(f2)),
            oof AS (SELECT a.cat, fl.f2, sum(a.s) AS os, sum(a.c) AS oc
                    FROM a JOIN fl ON a.fold != fl.f2 GROUP BY 1, 2),
            ft AS (SELECT fold, sum(s) AS s, sum(c) AS c FROM a GROUP BY 1),
            pf AS (SELECT fl.f2, sum(ft.s) AS ps, sum(ft.c) AS pc
                   FROM ft JOIN fl ON ft.fold != fl.f2 GROUP BY 1),
            enc AS (SELECT a.cat, a.fold,
                           (coalesce(oof.os, 0) + 20.0 *
                            (CASE WHEN pf.pc > 0 THEN pf.ps / pf.pc END))
                           / (coalesce(oof.oc, 0) + 20.0) AS e
                    FROM a
                    LEFT JOIN oof ON a.cat = oof.cat AND a.fold = oof.f2
                    LEFT JOIN pf ON a.fold = pf.f2)
            SELECT b.o_orderkey, b.fold, round(enc.e, 4) AS prio_te
            FROM b JOIN enc ON b.cat = enc.cat AND b.fold = enc.fold
        """,
        "label_encode": """
            SELECT c_mktsegment AS label,
                   dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS label_idx
            FROM (SELECT DISTINCT c_mktsegment FROM customer)
        """,
        "tpch_q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.03 AND 0.07
              AND l_quantity < 24
        """,
        "tpch_q12_shipmode": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY 1
        """,
        "dedup_groups": """
            SELECT fp, n_dups, keep_id FROM (
              SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     count(*) AS n_dups, min(doc_id) AS keep_id
              FROM documents GROUP BY 1)
            WHERE n_dups > 1
        """,
        "tpch_q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_quantity > 45)
            GROUP BY 1
        """,
        "tpch_q10_returned_items": """
            SELECT c_custkey, c_name, c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        # r4 rotation: single-expression / variant oracles preserved for
        # the mirror + pytest contract
        "filter_isin": """
            SELECT p_partkey, p_brand, p_size FROM part
            WHERE p_brand IN ('Brand#1', 'Brand#3')
        """,
        "limit_slice": """
            SELECT event_id, user_id, event_type FROM events
            ORDER BY event_id LIMIT 1000
        """,
        "log1p": """
            SELECT l_orderkey, l_linenumber, round(ln(1 + l_quantity), 6) AS log1p_qty
            FROM lineitem
        """,
        "asof_join": f"""
            WITH st AS ({_PURCHASE_STATE_SQL}), pr AS ({_PROBES_SQL})
            SELECT pr.event_id, pr.user_id, st.purchase_value, st.ts AS state_ts
            FROM pr ASOF LEFT JOIN st
              ON pr.user_id = st.user_id AND st.ts <= pr.feature_ts
        """,
        "sessionize": """
            -- CAST: DuckDB sum() yields HUGEINT (-> float64 in pandas);
            -- Spark's running sum is BIGINT — align the typed hash
            SELECT event_id, user_id,
                   CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
            FROM (SELECT event_id, user_id, ts,
                         CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts)) <= 1800
                              THEN 0 ELSE 1 END AS flag
                  FROM events)
        """,
        "groupby_count": """
            SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1
        """,
        "global_minmax": """
            SELECT round(min(l_extendedprice), 4) AS min_price,
                   round(max(l_extendedprice), 4) AS max_price
            FROM lineitem
        """,
        "pca_projection": f"""
            SELECT vec_id, round(p0, 3) AS p0, round(p1, 3) AS p1,
                   round(p2, 3) AS p2, round(p3, 3) AS p3
            FROM read_parquet('{_FIXTURES}/pca_projection_sf001.parquet')
        """,
        "stratified_take": """
            SELECT vec_id, CAST(label AS VARCHAR) AS label FROM (
              SELECT vec_id, label,
                     row_number() OVER (
                         PARTITION BY label
                         ORDER BY md5(CAST(vec_id AS VARCHAR) || '|')) AS rn
              FROM embeddings)
            WHERE rn <= 7
        """,
        "pack_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'),
                          1, 8)) AS BIGINT) % 8 AS shard
              FROM documents),
            s AS (
              SELECT doc_id, n_tokens, CAST(shard AS INT) AS shard,
                     CAST(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS start_tok
              FROM t)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, shard,
                   start_tok,
                   start_tok // 512 AS seq_id,
                   start_tok % 512 AS seq_offset,
                   CASE WHEN n_tokens = 0 THEN 0
                        ELSE (start_tok + n_tokens - 1) // 512
                             - start_tok // 512 + 1 END AS n_seqs_spanned
            FROM s
        """,
        # the arithmetic below replicates source_mix_plan verbatim:
        # fraction = least(1.0, (budget * (weight/sum_w)) / available),
        # uniform weight 1.0 => sum_w = count of observed sources
        "source_mix": f"""
            WITH t AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n
              FROM documents),
            per AS (SELECT source, CAST(sum(n) AS BIGINT) AS avail
                    FROM t GROUP BY source),
            sw AS (SELECT CAST(count(*) AS DOUBLE) AS sw FROM per),
            pl AS (SELECT source,
                          least(1.0, (10000.0 * (1.0 / sw)) / avail)
                            AS fraction
                   FROM per, sw WHERE avail > 0)
            SELECT d.doc_id, d.source
            FROM documents d JOIN pl USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|m1'),
                       1, 8)) AS BIGINT) / 4294967296.0 < fraction
        """,
        "unigram_logprob": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS token
              FROM documents),
            c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                           CAST(count(*) AS DOUBLE) AS vocab FROM c),
            p AS (SELECT doc_id, count(*) AS n_tokens,
                         avg(ln((cnt + 1.0) / (total + 1.0 * (vocab + 1))))
                           AS lp
                  FROM tok JOIN c USING (token), tot GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   round(p.lp, 6) AS avg_logprob
            FROM documents d LEFT JOIN p USING (doc_id)
        """,
        # exact brute-force hamming join over the SAME portable hash +
        # planted twins the engine builds (15 md5 hex digits -> 60-bit
        # BIGINT; even ids twin at hamming 1, odd at hamming 6)
        "hash_hamming_pairs": """
            WITH b AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
              FROM documents),
            h AS (
              SELECT doc_id, h FROM b
              UNION ALL
              SELECT doc_id + 1000000,
                     xor(h, CASE WHEN doc_id % 2 = 0
                                 THEN (CAST(1 AS BIGINT) << (doc_id % 60))
                                 ELSE CAST(1118481 AS BIGINT) END)
              FROM b)
            SELECT a.doc_id AS id1, b2.doc_id AS id2,
                   CAST(bit_count(xor(a.h, b2.h)) AS INT) AS hamming
            FROM h a JOIN h b2 ON a.doc_id < b2.doc_id
            WHERE bit_count(xor(a.h, b2.h)) <= 4
        """,
        "bpe_merges": f"""
            SELECT rank, "left", "right"
            FROM read_parquet('{_FIXTURES}/bpe_merges_sf001.parquet')
        """,
        # late-r4 rotation: the five retirees' oracles (still mirror-run)
        "anti_join_orphans": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
            AND user_id NOT IN (
                SELECT user_id FROM events WHERE event_type = 'purchase')
        """,
        "rolling_stats": """
            SELECT event_id, user_id,
                   count(value) OVER w AS roll_count,
                   round(avg(value) OVER w, 4) AS roll_mean,
                   round(coalesce(
                       avg(value * value) OVER w - avg(value) OVER w * avg(value) OVER w,
                       0), 4) AS roll_var
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "topk_per_group": """
            SELECT user_id, event_id, value, rk FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                         ORDER BY value DESC, event_id) AS rk
              FROM events WHERE event_type = 'purchase')
            WHERE rk <= 3
        """,
        "token_count": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "hashed_features": """
            WITH w AS (SELECT doc_id,
                              regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                       FROM documents),
            u AS (SELECT doc_id, unnest(toks) AS g FROM w),
            b AS (SELECT doc_id, p[1] || ' ' || p[2] AS g
                  FROM (SELECT doc_id,
                               unnest(list_zip(toks[1:len(toks) - 1],
                                               toks[2:len(toks)])) AS p
                        FROM w WHERE len(toks) >= 2)),
            g AS (SELECT * FROM u UNION ALL SELECT * FROM b),
            tot AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
            cnt AS (SELECT doc_id,
                           CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 64
                               AS slot,
                           count(*) AS c
                    FROM g GROUP BY 1, 2)
            SELECT cnt.doc_id, slot, round(c * 1.0 / n, 6) AS tf
            FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        """,
        "text_predictions": f"""
            WITH w AS (SELECT doc_id,
                              regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                       FROM documents),
            u AS (SELECT doc_id, unnest(toks) AS g FROM w),
            b AS (SELECT doc_id, p[1] || ' ' || p[2] AS g
                  FROM (SELECT doc_id,
                               unnest(list_zip(toks[1:len(toks) - 1],
                                               toks[2:len(toks)])) AS p
                        FROM w WHERE len(toks) >= 2)),
            g AS (SELECT * FROM u UNION ALL SELECT * FROM b),
            tot AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
            f AS (SELECT doc_id,
                         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 256
                             AS slot,
                         count(*) AS c
                  FROM g GROUP BY 1, 2),
            z AS (SELECT f.doc_id, wt.label,
                         sum((f.c * 1.0 / tot.n) * wt.weight) AS z
                  FROM f
                  JOIN tot ON f.doc_id = tot.doc_id
                  JOIN read_parquet(
                      '{_FIXTURES}/quality_classifier_sf001.parquet') wt
                    ON f.slot = wt.pos
                  GROUP BY 1, 2),
            m AS (SELECT doc_id, max(z) AS zmax FROM z GROUP BY 1),
            e AS (SELECT z.doc_id, z.label, exp(z.z - m.zmax) AS ez
                  FROM z JOIN m ON z.doc_id = m.doc_id),
            s AS (SELECT doc_id, sum(ez) AS se FROM e GROUP BY 1),
            p AS (SELECT e.doc_id, e.label, e.ez / s.se AS prob
                  FROM e JOIN s ON e.doc_id = s.doc_id)
            SELECT doc_id, label AS pred, round(prob, 4) AS confidence
            FROM (SELECT p.*, row_number() OVER (PARTITION BY doc_id
                      ORDER BY prob DESC, label) AS rn FROM p)
            WHERE rn = 1
        """,
        "bigram_logprob": """
            WITH w AS (SELECT doc_id,
                              regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                       FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS token FROM w),
            uni AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                           CAST(count(*) AS DOUBLE) AS vocab FROM uni),
            bg AS (SELECT doc_id, p[1] AS w1, p[2] AS w2
                   FROM (SELECT doc_id,
                                unnest(list_zip(toks[1:len(toks) - 1],
                                                toks[2:len(toks)])) AS p
                         FROM w WHERE len(toks) >= 2)),
            bc AS (SELECT w1, w2, count(*) AS bcnt FROM bg GROUP BY 1, 2),
            sc AS (SELECT bg.doc_id,
                          ln(0.75 * (bc.bcnt * 1.0 / u1.cnt)
                             + 0.25 * ((u2.cnt + 1.0)
                                       / (total + 1.0 * (vocab + 1)))) AS lp
                   FROM bg
                   JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
                   JOIN uni u1 ON bg.w1 = u1.token
                   JOIN uni u2 ON bg.w2 = u2.token, tot),
            p AS (SELECT doc_id, count(*) AS n_bigrams, avg(lp) AS lp
                  FROM sc GROUP BY 1)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   round(p.lp, 6) AS avg_logprob
            FROM documents d LEFT JOIN p USING (doc_id)
        """,
        "url_filter": r"""
            WITH a AS (
              SELECT doc_id, text || CASE
                WHEN doc_id % 4 = 1 THEN ' see https://www.site'
                     || CAST(doc_id % 50 AS VARCHAR) || '.com/p/'
                     || CAST(doc_id AS VARCHAR)
                WHEN doc_id % 4 = 3 THEN ' ref http://cdn.site'
                     || CAST(doc_id % 50 AS VARCHAR) || '.com/x and '
                     || 'https://www.site' || CAST((doc_id + 1) % 50 AS VARCHAR)
                     || '.com/y'
                ELSE '' END AS t
              FROM documents),
            u AS (SELECT doc_id,
                         regexp_extract_all(t,
                             'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\s]*)?')
                             AS urls,
                         regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)
                             AS hosts
                  FROM a),
            d AS (SELECT doc_id, CAST(len(urls) AS BIGINT) AS n_urls,
                         list_sort(list_distinct(list_transform(hosts,
                             h -> regexp_extract(lower(h),
                                 '([a-z0-9-]+\.[a-z0-9-]+)$', 1)))) AS doms
                  FROM u),
            blocked AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(doms) AS dm FROM d)
              WHERE dm IN ('site0.com', 'site10.com', 'site20.com',
                           'site30.com', 'site40.com'))
            SELECT doc_id, n_urls,
                   coalesce(array_to_string(doms, ','), '') AS domains,
                   doc_id NOT IN (SELECT doc_id FROM blocked) AS kept
            FROM d
        """,
        "bm25_topk": f"""
            SELECT query_id, doc_id, round(score, 6) AS score, rank
            FROM ({_bm25_run_sql(1, 6)})
        """,
        "hybrid_rrf": f"""
            WITH u AS (
              SELECT query_id, doc_id, 1.0 / (60 + rank) AS c
              FROM ({_bm25_run_sql(1, 6)})
              UNION ALL
              SELECT query_id, doc_id, 1.0 / (60 + rank) AS c
              FROM ({_bm25_run_sql(4, 9)})),
            f AS (SELECT query_id, doc_id, sum(c) AS rrf
                  FROM u GROUP BY 1, 2)
            SELECT query_id, doc_id, round(rrf, 6) AS rrf,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
            FROM f
        """,
        "chunk_documents": r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x != '') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, i AS chunk_id,
                     toks[CAST(i * 24 + 1 AS BIGINT)
                          : CAST(i * 24 + 32 AS BIGINT)] AS sl
              FROM (SELECT doc_id, toks,
                           unnest(range(0,
                               CASE WHEN len(toks) = 0 THEN 0
                                    WHEN len(toks) <= 32 THEN 1
                                    ELSE CAST(ceil((len(toks) - 32) / 24.0)
                                              AS BIGINT) + 1 END)) AS i
                    FROM w))
            SELECT doc_id, chunk_id, CAST(len(sl) AS BIGINT) AS n_tokens,
                   array_to_string(sl, ' ') AS chunk
            FROM c
        """,
        "phash_topk": """
            WITH h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS ch
              FROM documents),
            p AS (SELECT doc_id AS probe_id, xor(ch, 3) AS ph
                  FROM h WHERE doc_id % 50 = 3),
            sc AS (SELECT p.probe_id, h.doc_id AS corpus_id,
                          CAST(bit_count(xor(p.ph, h.ch)) AS BIGINT)
                              AS hamming
                   FROM p CROSS JOIN h)
            SELECT probe_id, corpus_id, hamming, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                            ORDER BY hamming, corpus_id) AS BIGINT) AS rank
              FROM sc)
            WHERE rank <= 3
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        """,
        "ann_lsh_topk": _ANN_RETRIEVAL_ORACLE,
        "lang_id": f"""
            WITH t AS (SELECT doc_id,
                              regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                       FROM documents),
            s AS (SELECT doc_id,
                         len(list_filter(w, x -> list_contains({_EN}, x))) AS s_en,
                         len(list_filter(w, x -> list_contains({_DE}, x))) AS s_de,
                         len(list_filter(w, x -> list_contains({_FR}, x))) AS s_fr,
                         len(list_filter(w, x -> list_contains({_ES}, x))) AS s_es
                  FROM t)
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) < 1 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM s
        """,
        "quality_score": f"""
            WITH q AS (
              SELECT doc_id, length(text) AS n_chars,
                     len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS w
              FROM documents),
            r AS (SELECT doc_id, n_chars,
                         CASE WHEN n_chars > 0
                              THEN n_punct * 1.0 / n_chars ELSE 0 END AS punct_ratio,
                         CASE WHEN len(w) > 0 THEN
                              len(list_filter(w, x -> list_contains({_EN}, x)))
                              * 1.0 / len(w) ELSE 0 END AS stopword_ratio,
                         CASE WHEN len(w) > 0 THEN
                              list_aggregate(list_transform(w, x -> length(x)), 'sum')
                              * 1.0 / len(w) ELSE 0 END AS mean_word_len
                  FROM q)
            SELECT doc_id, n_chars, round(punct_ratio, 4) AS punct_ratio,
                   round(stopword_ratio, 4) AS stopword_ratio,
                   round(mean_word_len, 4) AS mean_word_len,
                   round((least(n_chars / 200.0, 1.0)
                          + greatest(1.0 - punct_ratio * 4.0, 0.0)
                          + least(stopword_ratio * 4.0, 1.0)) / 3.0, 4) AS quality
            FROM r
        """,
        "collocations": """
            WITH w AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+')
                              AS toks
                       FROM documents),
            bg AS (SELECT p[1] AS w1, p[2] AS w2
                   FROM (SELECT unnest(list_zip(toks[1:len(toks) - 1],
                                                toks[2:len(toks)])) AS p
                         FROM w WHERE len(toks) >= 2)),
            bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
                   FROM bg GROUP BY 1, 2),
            l AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1
                  FROM bc GROUP BY 1),
            r AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_w2
                  FROM bc GROUP BY 1),
            t AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS n FROM bc)
            SELECT bc.w1, bc.w2, bc.n_pair, l.n_w1, r.n_w2,
                   round(ln((bc.n_pair / n)
                            / ((l.n_w1 / n) * (r.n_w2 / n))), 6) AS pmi,
                   round(CASE WHEN -ln(bc.n_pair / n) > 0
                              THEN ln((bc.n_pair / n)
                                      / ((l.n_w1 / n) * (r.n_w2 / n)))
                                   / -ln(bc.n_pair / n) END, 6) AS npmi
            FROM bc JOIN l USING (w1) JOIN r USING (w2), t
            WHERE bc.n_pair >= 5
        """,
        "decayed_features": """
            WITH p AS (SELECT event_id, user_id, epoch(ts) AS t
                       FROM events WHERE event_id % 10 = 7),
            e AS (SELECT user_id, epoch(ts) AS te, value FROM events
                  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            j AS (SELECT p.event_id,
                         power(0.5, (p.t - e.te) / 86400.0) AS w, e.value
                  FROM p JOIN e ON p.user_id = e.user_id
                   AND floor(e.te / 86400.0)
                       BETWEEN floor(p.t / 86400.0) - 20
                           AND floor(p.t / 86400.0) - 1),
            a AS (SELECT event_id, sum(w) AS dn,
                         sum(CASE WHEN value IS NOT NULL
                                  THEN value * w END) AS dv
                  FROM j GROUP BY 1)
            SELECT p.event_id,
                   round(coalesce(a.dn, 0), 6) AS decay_n,
                   round(coalesce(a.dv, 0), 6) AS decay_value
            FROM p LEFT JOIN a USING (event_id)
        """,
        "time_folds": """
            WITH t AS (SELECT event_id, epoch(ts) AS tt FROM events
                       WHERE ts IS NOT NULL),
            q AS (SELECT quantile_cont(tt, 0.25) AS q0,
                         quantile_cont(tt, 0.50) AS q1,
                         quantile_cont(tt, 0.75) AS q2 FROM t),
            f AS (SELECT event_id, tt, fold
                  FROM t, unnest([0, 1, 2, 3]) AS u(fold)),
            r AS (SELECT event_id, fold, tt,
                         CASE fold WHEN 0 THEN tt < q0
                                   WHEN 1 THEN tt >= q0 AND tt < q1
                                   WHEN 2 THEN tt >= q1 AND tt < q2
                                   ELSE tt >= q2 END AS in_test,
                         CASE fold
                              WHEN 0 THEN tt < q0 + 43200.0
                              WHEN 1 THEN tt >= q0 - 43200.0
                                          AND tt < q1 + 43200.0
                              WHEN 2 THEN tt >= q1 - 43200.0
                                          AND tt < q2 + 43200.0
                              ELSE tt >= q2 - 43200.0 END AS in_purge
                  FROM f, q)
            SELECT event_id, CAST(fold AS BIGINT) AS fold,
                   CASE WHEN in_test THEN 'test'
                        WHEN in_purge THEN 'purged'
                        ELSE 'train' END AS role
            FROM r
        """,
        "future_labels": """
            WITH p AS (SELECT event_id, user_id, epoch(ts) AS t
                       FROM events WHERE event_id % 10 = 1),
            e AS (SELECT user_id, epoch(ts) AS te, value, event_type
                  FROM events),
            j AS (SELECT p.event_id, e.value, e.event_type
                  FROM p JOIN e ON p.user_id = e.user_id
                   AND e.te > p.t + 3600.0
                   AND e.te <= p.t + 262800.0),
            a AS (SELECT event_id, CAST(count(*) AS BIGINT) AS label_n,
                         sum(value) AS label_sum,
                         CAST(count(DISTINCT event_type) AS BIGINT)
                             AS label_types
                  FROM j GROUP BY 1)
            SELECT p.event_id,
                   coalesce(a.label_n, 0) AS label_n,
                   round(a.label_sum, 6) AS label_sum,
                   coalesce(a.label_types, 0) AS label_types
            FROM p LEFT JOIN a USING (event_id)
        """,
        "ks_drift": """
            WITH s AS (
              SELECT 'value' AS feature, value AS v,
                     CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
              FROM events
              WHERE event_type IN ('click', 'purchase')
                AND value IS NOT NULL
              UNION ALL
              SELECT 'abs_value' AS feature, abs(value) AS v,
                     CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
              FROM events
              WHERE event_type IN ('click', 'purchase')
                AND abs(value) IS NOT NULL),
            h AS (SELECT feature, v,
                         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
                         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
                  FROM s GROUP BY 1, 2),
            c AS (SELECT feature,
                         sum(ca) OVER (PARTITION BY feature ORDER BY v
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cuma,
                         sum(cb) OVER (PARTITION BY feature ORDER BY v
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cumb,
                         sum(ca) OVER (PARTITION BY feature) AS na,
                         sum(cb) OVER (PARTITION BY feature) AS nb
                  FROM h)
            SELECT feature, CAST(max(na) AS BIGINT) AS n_a,
                   CAST(max(nb) AS BIGINT) AS n_b,
                   round(max(CASE WHEN na > 0 AND nb > 0
                             THEN abs(cuma / na - cumb / nb) END), 6)
                       AS d_stat
            FROM c GROUP BY 1 ORDER BY 1
        """,
        "aspect_buckets": _aspect_oracle_sql(),
        "cusum_changepoints": """
            WITH s AS (
              SELECT event_id, user_id, ts, value,
                     sum(coalesce(value - 50.0, 0.0) - 10.0) OVER w AS s_up,
                     sum(coalesce(value - 50.0, 0.0) + 10.0) OVER w AS s_dn
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, value
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)),
            c AS (
              SELECT event_id, value,
                     s_up - least(min(s_up) OVER w2, 0.0) AS cusum_pos,
                     greatest(max(s_dn) OVER w2, 0.0) - s_dn AS cusum_neg
              FROM s
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id, value
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
            SELECT event_id,
                   round(cusum_pos, 6) AS cusum_pos,
                   round(cusum_neg, 6) AS cusum_neg,
                   (value IS NOT NULL
                    AND (cusum_pos > 500.0 OR cusum_neg > 500.0)) AS is_alarm
            FROM c
        """,
        "oversample_plan": """
            WITH f AS (
              SELECT lang,
                     count(*) / (SELECT CAST(count(*) AS DOUBLE)
                                 FROM documents) AS fl
              FROM documents WHERE lang IS NOT NULL GROUP BY 1),
            r AS (
              SELECT d.doc_id, d.lang,
                     coalesce(greatest(1.0, sqrt(0.3 / f.fl)), 1.0) AS rf,
                     CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                          || '|rfs|0|'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS u
              FROM documents d LEFT JOIN f ON d.lang = f.lang),
            c AS (
              SELECT doc_id, lang, rf,
                     CAST(floor(rf) AS BIGINT)
                       + CASE WHEN u < rf - floor(rf) THEN 1 ELSE 0 END
                       AS n_rep
              FROM r)
            SELECT doc_id, lang, round(rf, 8) AS repeat_factor,
                   CAST(unnest(range(0, n_rep)) AS BIGINT) AS copy_idx
            FROM c
        """,
        "fleiss_kappa": """
            WITH clean AS (
              SELECT l_orderkey AS item, l_returnflag AS label
              FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL),
            eligible AS (
              SELECT item FROM clean GROUP BY item HAVING count(*) >= 2),
            cells AS (
              SELECT c.item, c.label, count(*) AS nij
              FROM clean c JOIN eligible e USING (item)
              GROUP BY 1, 2),
            items AS (
              SELECT item, sum(nij) AS ni,
                     sum(nij * (nij - 1)) AS agree
              FROM cells GROUP BY 1),
            tot AS (
              SELECT avg(agree / (ni * (ni - 1.0))) AS p_bar,
                     count(*) AS n_items,
                     CAST(sum(ni) AS BIGINT) AS n_ratings
              FROM items),
            marg AS (
              SELECT sum(nj) AS mtot, sum(nj * nj) AS msq,
                     count(*) AS n_categories
              FROM (SELECT label, sum(nij) AS nj FROM cells GROUP BY 1))
            SELECT round(CASE WHEN n_items > 0
                              AND msq / (mtot * mtot) < 1.0
                         THEN (p_bar - msq / (mtot * mtot))
                              / (1.0 - msq / (mtot * mtot)) END, 6) AS kappa,
                   round(p_bar, 6) AS p_bar,
                   round(msq / (mtot * mtot), 6) AS p_e,
                   n_items, n_ratings, n_categories
            FROM tot, marg
        """,
        "quantize_embeddings": """
            WITH q AS (
              SELECT vec_id, embedding,
                     list_min(list_transform(embedding,
                              x -> CAST(x AS DOUBLE))) AS mn,
                     list_max(list_transform(embedding,
                              x -> CAST(x AS DOUBLE))) AS mx
              FROM embeddings),
            q2 AS (SELECT *, (mx - mn) / 255.0 AS scale FROM q),
            q3 AS (
              SELECT vec_id, embedding, mn, scale,
                     list_transform(embedding, x ->
                       CAST(least(greatest(
                         CASE WHEN scale > 0
                              THEN CAST(floor((CAST(x AS DOUBLE) - mn)
                                              / scale + 0.5) AS BIGINT)
                              ELSE 0 END, 0), 255) AS INTEGER)) AS codes
              FROM q2)
            SELECT vec_id, codes, mn AS minv, scale,
                   round(CASE WHEN len(embedding) > 0 THEN
                     list_sum(list_transform(
                       list_transform(embedding, x ->
                         CAST(x AS DOUBLE) - (mn +
                           CAST(least(greatest(
                             CASE WHEN scale > 0
                                  THEN CAST(floor((CAST(x AS DOUBLE) - mn)
                                                  / scale + 0.5) AS BIGINT)
                                  ELSE 0 END, 0), 255) AS DOUBLE) * scale)),
                       d -> d * d)) / len(embedding) END, 10) AS mse
            FROM q3
        """,
        "stream_cusum": """
            WITH s AS (
              SELECT event_id, user_id, value,
                     sum(coalesce(value - 50.0, 0.0) - 10.0) OVER w AS s_up,
                     sum(coalesce(value - 50.0, 0.0) + 10.0) OVER w AS s_dn
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY event_id, value
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)),
            c AS (
              SELECT event_id, value,
                     s_up - least(min(s_up) OVER w2, 0.0) AS cusum_pos,
                     greatest(max(s_dn) OVER w2, 0.0) - s_dn AS cusum_neg
              FROM s
              WINDOW w2 AS (PARTITION BY user_id ORDER BY event_id, value
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
            SELECT event_id,
                   round(cusum_pos, 6) AS cusum_pos,
                   round(cusum_neg, 6) AS cusum_neg,
                   (value IS NOT NULL
                    AND (cusum_pos > 500.0 OR cusum_neg > 500.0)) AS is_alarm
            FROM c
        """,
        "prototype_margins": """
            WITH clean AS (
              SELECT vec_id, CAST(label AS VARCHAR) AS lab, embedding
              FROM embeddings
              WHERE label IS NOT NULL AND embedding IS NOT NULL),
            mel AS (
              SELECT lab,
                     unnest(list_transform(embedding,
                       (x, i) -> {'pos': i, 'x': CAST(x AS DOUBLE)})) AS u
              FROM clean),
            comp AS (
              SELECT lab, u.pos AS pos, round(avg(u.x), 9) AS c
              FROM mel GROUP BY 1, 2),
            proto AS (
              SELECT lab, list(c ORDER BY pos) AS p FROM comp GROUP BY 1),
            unitp AS (
              SELECT lab,
                     CASE WHEN sqrt(list_sum(list_transform(p, y -> y*y))) > 0
                          THEN list_transform(p, x ->
                            x / sqrt(list_sum(list_transform(p, y -> y*y))))
                          ELSE p END AS up
              FROM proto),
            sims AS (
              SELECT e.vec_id, e.lab, u.lab AS other,
                     CASE WHEN sqrt(list_sum(list_transform(e.embedding,
                            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) > 0
                       THEN list_sum(list_transform(e.embedding,
                              (x, i) -> CAST(x AS DOUBLE) * u.up[i]))
                            / sqrt(list_sum(list_transform(e.embedding,
                                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                     END AS sim
              FROM clean e CROSS JOIN unitp u),
            own AS (
              SELECT vec_id, sim AS own_sim FROM sims WHERE lab = other),
            best AS (
              SELECT vec_id, other, sim,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, other DESC) AS rn
              FROM sims WHERE lab != other)
            SELECT e.vec_id, CAST(e.lab AS INTEGER) AS label,
                   round(o.own_sim - b.sim, 8) AS proto_margin,
                   b.other AS nearest_other,
                   (o.own_sim - b.sim) < 0 AS is_mislabel_candidate
            FROM clean e
            JOIN own o USING (vec_id)
            JOIN best b ON b.vec_id = e.vec_id AND b.rn = 1
        """,
        "dataset_cartography": """
            WITH log AS (
              SELECT vec_id, e.epoch,
                     (CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                            || '|' || CAST(e.epoch AS VARCHAR) || '|carto'),
                            1, 8)) AS BIGINT) / 4294967296.0
                      + e.epoch * 0.15) / 1.75 AS p_true
              FROM embeddings,
                   (SELECT unnest(range(1, 6)) AS epoch) e),
            m AS (
              SELECT vec_id, count(*) AS n, sum(p_true) AS s,
                     sum(p_true * p_true) AS ss,
                     avg(CASE WHEN p_true > 0.5 THEN 1.0 ELSE 0.0 END)
                       AS corr
              FROM log GROUP BY 1),
            sc AS (
              SELECT vec_id, n, s / n AS conf,
                     sqrt(greatest(0.0, ss / n - (s / n) * (s / n))) AS var,
                     corr
              FROM m)
            SELECT vec_id, CAST(n AS BIGINT) AS n_epochs,
                   round(conf, 6) AS confidence,
                   round(var, 6) AS variability,
                   round(corr, 6) AS correctness,
                   CASE WHEN var >= 0.2 THEN 'ambiguous'
                        WHEN conf >= 0.75 THEN 'easy'
                        WHEN conf <= 0.25 THEN 'hard'
                        ELSE 'mid' END AS region
            FROM sc
        """,
        "label_errors": """
            WITH hx AS (
              SELECT vec_id, CAST(label AS INT) AS label,
                     md5(CAST(vec_id AS VARCHAR) || '|le') AS hexd
              FROM embeddings),
            base AS (
              SELECT vec_id, label,
                     CASE WHEN CAST(('0x' || substr(hexd, 31, 2))
                              AS BIGINT) / 256.0 < 0.05
                          THEN (label + 1) % 10
                          ELSE label END AS given,
                     list_transform(range(0, 10), j ->
                        CAST(('0x' || substr(hexd,
                             CAST(j * 3 + 1 AS INT), 3))
                             AS BIGINT) / 4096.0 * 0.05
                        + CASE WHEN j = label
                               THEN 1.5 ELSE 0.0 END) AS a
              FROM hx),
            pr AS (
              SELECT vec_id, given,
                     list_transform(a, x -> x / list_sum(a)) AS p
              FROM base),
            t AS (
              SELECT given AS cls, round(avg(p[given + 1]), 6) AS thr
              FROM pr GROUP BY 1),
            ex AS (
              SELECT vec_id, unnest(p) AS pj,
                     CAST(unnest(range(0, 10)) AS INT) AS j
              FROM pr),
            cand AS (
              SELECT e.vec_id, e.pj, e.j,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY e.pj DESC, e.j ASC) AS rn
              FROM ex e JOIN t ON t.cls = e.j
              WHERE e.pj >= t.thr),
            pred AS (
              SELECT vec_id, j AS predicted_idx FROM cand WHERE rn = 1)
            SELECT b.vec_id, b.given AS given_idx,
                   CAST(pred.predicted_idx AS INT) AS predicted_idx,
                   round(b.p[b.given + 1], 6) AS self_conf,
                   round(b.p[pred.predicted_idx + 1] - b.p[b.given + 1], 6)
                     AS margin
            FROM pr b JOIN pred USING (vec_id)
            WHERE pred.predicted_idx <> b.given
        """,
        "acquisition_scores": """
            WITH base AS (
              SELECT vec_id, CAST(label AS INT) AS label,
                     list_transform(embedding[1:10],
                        x -> abs(CAST(x AS DOUBLE)) + 0.01) AS a
              FROM embeddings),
            pr AS (
              SELECT vec_id, label,
                     list_transform(a, x -> x / list_sum(a)) AS p
              FROM base),
            sc AS (
              SELECT vec_id, label, p,
                     list_reverse_sort(p) AS s,
                     p[label + 1] AS p_true,
                     CAST(list_position(p, list_max(p)) - 1 AS INT) AS am
              FROM pr)
            SELECT vec_id,
                   round(-list_sum(list_transform(p, x -> x * ln(x))), 6)
                     AS entropy,
                   round(1.0 - list_max(p), 6) AS least_confidence,
                   round(s[1] - s[2], 6) AS margin_top2,
                   round(p_true, 6) AS p_true,
                   round(sqrt(list_sum(list_transform(p, x -> x * x))
                         - 2 * p_true + 1.0), 6) AS el2n,
                   round(p_true - (CASE WHEN am = label THEN s[2]
                                        ELSE s[1] END), 6) AS margin_true,
                   (am = label) AS is_correct
            FROM sc
        """,
        "class_weights": """
            WITH c AS (
              SELECT CAST(label AS INT) AS label, count(*) AS n
              FROM embeddings WHERE label IS NOT NULL GROUP BY 1),
            r AS (
              SELECT label, n,
                     (1.0 - 0.99) / (1.0 - pow(0.99, n)) AS raw
              FROM c)
            SELECT label, n,
                   round(raw / sum(raw) OVER () * count(*) OVER (), 8)
                     AS weight
            FROM r
        """,
        "shard_plan": """
            WITH u AS (
              SELECT doc_id, n_chars,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || '|shards'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS u
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars >= 0),
            g AS (
              SELECT doc_id, n_chars, u,
                     CAST(floor(u * 8) AS INT) AS shard_group
              FROM u),
            c AS (
              SELECT doc_id, u, shard_group,
                     coalesce(sum(n_chars) OVER (
                        PARTITION BY shard_group ORDER BY u, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cb
              FROM g),
            l AS (
              SELECT doc_id, u, shard_group,
                     CAST(floor(cb / 200000) AS INT) AS local_shard
              FROM c)
            SELECT doc_id, shard_group, local_shard,
                   CAST(row_number() OVER (
                        PARTITION BY shard_group, local_shard
                        ORDER BY u, doc_id) - 1 AS INT) AS seq_in_shard,
                   CAST(shard_group AS VARCHAR) || '-'
                     || CAST(local_shard AS VARCHAR) AS shard_id
            FROM l
        """,
        "mixup_plan": """
            WITH base AS (
              SELECT vec_id,
                     CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                          || '|mix|1|'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS u
              FROM embeddings),
            g AS (
              SELECT vec_id, u,
                     CAST(floor(u * 8) AS INT) AS grp
              FROM base),
            posed AS (
              SELECT vec_id, u, grp,
                     row_number() OVER (PARTITION BY grp
                                        ORDER BY u, vec_id) - 1 AS pos,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM g),
            shifted AS (
              SELECT p.*,
                     CASE WHEN n >= 2 THEN
                       (pos + 1 + (CAST(('0x' || substr(md5(
                           CAST(grp AS VARCHAR) || '|mix|1|'), 1, 15))
                           AS BIGINT) % (n - 1))) % n
                     ELSE pos END AS ppos,
                     CASE WHEN n >= 2 THEN
                       pow(1.0 - pow(1.0 -
                         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                              || '|lam|1|'), 1, 8)) AS BIGINT)
                           / 4294967296.0, 5.0), 5.0)
                     ELSE 1.0 END AS lam
              FROM posed p)
            SELECT s.vec_id, b.vec_id AS b_vec_id, round(s.lam, 6) AS lam
            FROM shifted s
            JOIN posed b ON b.grp = s.grp AND b.pos = s.ppos
        """,
        "cutmix_plan": """
            WITH img AS (
              SELECT p_partkey AS img,
                     160 + (p_partkey * 7) % 3841 AS w,
                     120 + (p_partkey * 13) % 2161 AS h
              FROM part),
            d AS (
              SELECT img, w, h,
                     CAST(('0x' || substr(md5(CAST(img AS VARCHAR)
                          || '|lam|2|'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS lam,
                     CAST(('0x' || substr(md5(CAST(img AS VARCHAR)
                          || '|cx|2|'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS ux,
                     CAST(('0x' || substr(md5(CAST(img AS VARCHAR)
                          || '|cy|2|'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS uy
              FROM img),
            geo AS (
              SELECT img, w, h, lam,
                     CAST(floor(w * sqrt(1.0 - lam)) AS BIGINT) AS rw,
                     CAST(floor(h * sqrt(1.0 - lam)) AS BIGINT) AS rh,
                     CAST(floor(ux * w) AS BIGINT) AS cx,
                     CAST(floor(uy * h) AS BIGINT) AS cy
              FROM d),
            box AS (
              SELECT img, w, h, lam, rw, rh,
                     greatest(CAST(0 AS BIGINT),
                              cx - CAST(floor(rw / 2) AS BIGINT)) AS x1,
                     greatest(CAST(0 AS BIGINT),
                              cy - CAST(floor(rh / 2) AS BIGINT)) AS y1
              FROM geo),
            clip AS (
              SELECT img, w, h, lam, x1, y1,
                     least(CAST(w AS BIGINT), x1 + rw) AS x2,
                     least(CAST(h AS BIGINT), y1 + rh) AS y2
              FROM box)
            SELECT img, w, h, round(lam, 6) AS lam,
                   x1 AS box_x, y1 AS box_y,
                   x2 - x1 AS box_w, y2 - y1 AS box_h,
                   round(1.0 - CAST((x2 - x1) * (y2 - y1) AS DOUBLE)
                         / CAST(w * h AS DOUBLE), 6) AS lam_adj
            FROM clip
        """,
        "curriculum_plan": """
            WITH d AS (
              SELECT doc_id, n_chars FROM documents
              WHERE n_chars IS NOT NULL),
            n AS (SELECT count(*) AS n FROM d),
            r AS (
              SELECT doc_id,
                     CAST(rank() OVER (ORDER BY n_chars) - 1 AS DOUBLE)
                       / (SELECT CAST(n AS DOUBLE) FROM n) AS pct
              FROM d)
            SELECT r.doc_id,
                   round(r.pct, 8) AS difficulty_pct,
                   CAST(1 + len(list_filter(
                        [0.4183300132670378, 0.5830951894845301,
                         0.7106335201775947, 0.8185352771872451,
                         0.9137833441248533, 0.9999999999999999],
                        c -> c <= r.pct)) AS INT) AS entry_epoch
            FROM r
            UNION ALL
            SELECT doc_id, NULL AS difficulty_pct, NULL AS entry_epoch
            FROM documents WHERE n_chars IS NULL
        """,
        "data_diet": """
            WITH d AS (
              SELECT doc_id, lang, n_chars FROM documents
              WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
            h AS (
              SELECT lang, n_chars AS v, count(*) AS c
              FROM d GROUP BY 1, 2),
            r AS (
              SELECT lang, v,
                     sum(c) OVER (PARTITION BY lang ORDER BY v DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - c AS a,
                     sum(c) OVER (PARTITION BY lang) AS n
              FROM h),
            k AS (
              SELECT lang, v FROM r
              WHERE CAST(a AS DOUBLE) < 0.3 * CAST(n AS DOUBLE))
            SELECT d.doc_id, d.lang, d.n_chars
            FROM d JOIN k ON d.lang = k.lang AND d.n_chars = k.v
        """,
        "random_projection": """
            SELECT vec_id,
                   list_transform(range(0, 16), k ->
                     round(list_sum(list_transform(range(0, 64), j ->
                       CAST(embedding[j + 1] AS DOUBLE) *
                       (CASE WHEN CAST(('0x' || substr(md5(
                              CAST(j AS VARCHAR) || '|' ||
                              CAST(k AS VARCHAR) || '|rp|'), 1, 8))
                              AS BIGINT) % 2 = 0
                             THEN 1.0 ELSE -1.0 END)))
                     * 0.25, 6)) AS proj
            FROM embeddings
        """,
        "canonical_docs": """
            WITH RECURSIVE sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         generate_series(1, len(lower(text)) - 2),
                         i -> substr(lower(text), CAST(i AS INT), 3))) AS s
              FROM documents),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
            pairs AS (
              SELECT id1, id2
              FROM c JOIN sh s1 ON s1.doc_id = id1
                     JOIN sh s2 ON s2.doc_id = id2
              WHERE c * 1.0 / (len(s1.s) + len(s2.s) - c) >= 0.8),
            edges AS (SELECT id1 AS u, id2 AS v FROM pairs
                      UNION SELECT id2, id1 FROM pairs),
            reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
            comp AS (
              SELECT u AS doc_id, least(u, min(v)) AS component
              FROM reach GROUP BY u),
            member AS (
              SELECT d.doc_id, coalesce(comp.component, d.doc_id)
                       AS component, d.n_chars
              FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id),
            canon AS (
              SELECT component, doc_id AS canonical_id
              FROM (SELECT component, doc_id,
                           row_number() OVER (PARTITION BY component
                               ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM member)
              WHERE rn = 1)
            SELECT m.doc_id, m.component, c.canonical_id,
                   (m.doc_id = c.canonical_id) AS is_canonical
            FROM member m JOIN canon c ON m.component = c.component
        """,
        "embedding_drift": """
            WITH ex AS (
              SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS side,
                     CAST(unnest(embedding) AS DOUBLE) AS v,
                     CAST(unnest(range(0, 64)) AS BIGINT) AS pos
              FROM embeddings),
            m AS (
              SELECT pos,
                     count(*) FILTER (side = 0) AS n_a,
                     count(*) FILTER (side = 1) AS n_b,
                     avg(v) FILTER (side = 0) AS ma,
                     avg(v) FILTER (side = 1) AS mb,
                     greatest(0.0, avg(v * v) FILTER (side = 0)
                       - avg(v) FILTER (side = 0)
                         * avg(v) FILTER (side = 0)) AS va,
                     greatest(0.0, avg(v * v) FILTER (side = 1)
                       - avg(v) FILTER (side = 1)
                         * avg(v) FILTER (side = 1)) AS vb
              FROM ex GROUP BY 1)
            SELECT pos, n_a, n_b,
                   round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                   round(sqrt(va), 6) AS std_a,
                   round(sqrt(vb), 6) AS std_b,
                   CASE WHEN (va + vb) / 2.0 > 0
                        THEN round((ma - mb) / sqrt((va + vb) / 2.0), 6)
                        ELSE NULL END AS smd
            FROM m
        """,
        "rebalance_sample": """
            WITH d AS (
              SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL),
            c AS (SELECT lang, count(*) AS n FROM d GROUP BY 1),
            kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM c),
            mm AS (SELECT min(n / (1.0 / (SELECT k FROM kk))) AS m FROM c),
            p AS (
              SELECT lang,
                     least(1.0, (1.0 / (SELECT k FROM kk))
                           * (SELECT m FROM mm) / n) AS p
              FROM c)
            SELECT d.doc_id, d.lang
            FROM d JOIN p USING (lang)
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                       || '|'), 1, 8)) AS BIGINT) / 4294967296.0 < p.p
        """,
        "channel_stats": f"""
            SELECT channel, n_pixels, mean, std
            FROM read_parquet('{_FIXTURES}/channel_stats_expected.parquet')
        """,
        "skew_report": """
            WITH g AS (SELECT user_id, count(*) AS n_rows
                       FROM events GROUP BY 1),
            t AS (SELECT sum(n_rows) AS total FROM g)
            SELECT user_id, n_rows,
                   round(n_rows * 1.0 / total, 6) AS share,
                   CAST(ceil(n_rows / 50.0) AS BIGINT) AS recommended_salt
            FROM g, t
            ORDER BY n_rows DESC, user_id
            LIMIT 20
        """,
        "compaction_plan": """
            WITH man AS (
              SELECT lang AS part,
                     'f' || lpad(CAST(CAST(('0x' || substr(md5(
                         CAST(doc_id AS VARCHAR) || '|cp'), 1, 8))
                         AS BIGINT) % 37 AS VARCHAR), 2, '0') AS file,
                     CAST(sum(n_chars) AS BIGINT) AS bytes
              FROM documents GROUP BY 1, 2),
            sm AS (SELECT * FROM man WHERE bytes < 30000),
            off AS (SELECT part, file, bytes,
                           CAST(floor(coalesce(sum(bytes) OVER (
                               PARTITION BY part ORDER BY file
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) / 30000.0)
                               AS BIGINT) AS grp
                    FROM sm),
            g AS (SELECT part, file, bytes, grp,
                         count(*) OVER (PARTITION BY part, grp)
                             AS group_files,
                         CAST(sum(bytes) OVER (PARTITION BY part,
                             grp) AS BIGINT) AS group_bytes
                  FROM off)
            SELECT part, file, bytes, grp, group_files, group_bytes
            FROM g WHERE group_files >= 2
        """,
        # split-conformal thresholds: the identical ANSI formulation,
        # parameterized through the module's own sql twin
        "conformal_thresholds": __import__(
            "modlyn_spark.scoring.conformal", fromlist=["x"]
        ).conformal_thresholds_sql(
            "value", "events", group_exprs=["event_type"],
            alphas=[0.05, 0.1, 0.25],
        ),
        # fused L-lambda path vs L INDEPENDENT single-model numpy twins
        "regpath_weights": f"""
            SELECT lam, label, pos, round(weight, 6) AS weight
            FROM read_parquet('{_FIXTURES}/regpath_weights_sf001.parquet')
        """,
        # one-pass ridge vs the dense single-node closed form
        "ridge_tstats": f"""
            SELECT pos, beta, t_stat
            FROM read_parquet('{_FIXTURES}/ridge_tstats_sf001.parquet')
        """,
        # fused F-fold CV vs F INDEPENDENT fold-filtered twin runs
        "cv_weights": f"""
            SELECT fold, label, pos, round(weight, 6) AS weight
            FROM read_parquet('{_FIXTURES}/cv_weights_sf001.parquet')
        """,
        # Kaplan-Meier: the SAME ANSI product-limit formulation the
        # engine declares, parameterized by operators/survival.py
        "kaplan_meier": _kaplan_meier_oracle(),
        # mRMR vs the single-node bincount + inline-greedy twin
        "mrmr_selection": f"""
            SELECT rank, pos, relevance, redundancy, score
            FROM read_parquet('{_FIXTURES}/mrmr_selection_sf001.parquet')
        """,
    }
