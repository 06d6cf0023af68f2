"""Named query catalog — every operator family from SURVEY.md §2 as a
(PySpark query, DuckDB oracle SQL) pair.

Each entry is registered with ``@query(name, sql=...)``; the Spark side and
the SQL side alias every computed column identically so the driver's
order-insensitive value-hash comparison holds.

Determinism rules used throughout (see functions/exprs.py):
- double SUM/AVG → exact decimal accumulation, cast back to double;
- MIN/MAX/COUNT/COUNT DISTINCT → naturally order-independent;
- ratios/scores → double arithmetic over deterministic inputs (+ ROUND at
  the presentation edge, mirroring the reference's 2-3 dp rounding);
- orderings always carry a unique integer tiebreak (event_id / orderkey);
- event-time comparisons in exact integer micros (``epoch_us`` ≡
  ``unix_micros``), never FP seconds.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from streaming_feature_store_spark import commit
from streaming_feature_store_spark.cacheutil import local_checkpoint_tracked
from streaming_feature_store_spark.functions.exprs import dsum
from streaming_feature_store_spark.operators.asof import asof_join
from streaming_feature_store_spark.operators.sessions import funnel_features
from streaming_feature_store_spark.operators.windows import (
    interpolate_linear,
    multi_horizon_counts,
    rolling_last_n,
    sliding_stats,
    time_since_last,
    tumbling_stats,
    with_event_micros,
    zscore_vs_entity,
)
from streaming_feature_store_spark.sources.file import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Decimal-exact SUM in DuckDB SQL, mirroring exprs.dsum
_DSUM = "CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"
_DSUM6 = "CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Analytics spine (scan → filter → agg; TPC-H-style) — SURVEY §2.2-2.3
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
      {_DSUM.format(c='l_quantity')} AS sum_qty,
      {_DSUM.format(c='l_extendedprice')} AS sum_base_price,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
      {_DSUM.format(c='l_quantity')} / COUNT(*) AS avg_qty,
      {_DSUM.format(c='l_extendedprice')} / COUNT(*) AS avg_price,
      {_DSUM6.format(c='l_discount')} / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary scan→filter→agg (A2-A3 at analytic scale). The filter
    pushes to the parquet scan; partial aggs run map-side; at 100 TB this is
    a single shuffle of ~6 grouped rows per task."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc, 6).alias("sum_disc_price"),
        dsum(charge, 6).alias("sum_charge"),
        (dsum("l_quantity") / F.count("*")).alias("avg_qty"),
        (dsum("l_extendedprice") / F.count("*")).alias("avg_price"),
        (dsum("l_discount", 6) / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q06_top_customers",
    sql=f"""
    SELECT c_custkey, c_name,
      {_DSUM.format(c='o_totalprice')} AS revenue,
      COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
)
def q06_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k pattern (A13's rank shape): join + agg + deterministic order +
    limit. Customer is the dim side — it scales linearly with sf (sf×150 k
    rows), so no static broadcast hint: AQE promotes it to broadcast at
    runtime whenever the observed size is safe, and demotes it at the
    scale where a forced broadcast would OOM an executor (session.py
    policy)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(dsum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


@query(
    "q15_revenue_by_nation",
    sql=f"""
    SELECT n_name,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS revenue,
      COUNT(*) AS n_lineitems,
      COUNT(DISTINCT c_custkey) AS n_customers
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q15_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query (J5 shape). nation/customer broadcast; the
    lineitem⋈orders join is the only real shuffle and AQE can pick
    shuffled-hash vs SMJ from runtime sizes."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            dsum(rev, 6).alias("revenue"),
            F.count("*").alias("n_lineitems"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@query(
    "q17_market_segment_stats",
    sql=f"""
    SELECT c_mktsegment,
      COUNT(*) AS n_customers,
      {_DSUM.format(c='c_acctbal')} AS acctbal_sum,
      {_DSUM.format(c='c_acctbal')} / COUNT(*) AS acctbal_avg,
      MIN(c_acctbal) AS acctbal_min,
      MAX(c_acctbal) AS acctbal_max
    FROM customer GROUP BY c_mktsegment
    """,
)
def q17_market_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        dsum("c_acctbal").alias("acctbal_sum"),
        (dsum("c_acctbal") / F.count("*")).alias("acctbal_avg"),
        F.min("c_acctbal").alias("acctbal_min"),
        F.max("c_acctbal").alias("acctbal_max"),
    )


@query(
    "q18_order_priority",
    sql=f"""
    SELECT o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      {_DSUM.format(c='o_totalprice')} AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q18_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count aggregation (A6 shape on the orders table)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        dsum("o_totalprice").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Event-stream feature queries (entity = user_id) — SURVEY §2.3
# ---------------------------------------------------------------------------


@query(
    "q02_user_window_stats_5m",
    sql=f"""
    SELECT user_id,
      (epoch_us(ts) // 300000000) * 300 AS window_start_s,
      COUNT(*) AS event_count,
      {_DSUM.format(c='value')} AS value_sum,
      {_DSUM.format(c='value')} / COUNT(value) AS value_avg,
      MIN(value) AS value_min,
      MAX(value) AS value_max,
      COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id, window_start_s
    """,
)
def q02_user_window_stats_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A5: tumbling 5-minute per-entity stats (transaction.py:51-62)."""
    ev = _t(spark, sf_dir, "events")
    return tumbling_stats(
        ev,
        "user_id",
        extra_aggs=[F.countDistinct("event_type").alias("n_types")],
    )


@query(
    "q03_user_sliding_5m_1m",
    sql=f"""
    SELECT user_id,
      (epoch_us(ts) // 60000000) * 60 - 60 * g AS window_start_s,
      COUNT(*) AS event_count,
      {_DSUM.format(c='value')} AS value_sum,
      MAX(value) AS value_max
    FROM events CROSS JOIN generate_series(0, 4) AS t(g)
    GROUP BY user_id, window_start_s
    """,
)
def q03_user_sliding_5m_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 5 m/1 m window — the reference's default window geometry
    (config.py:27-28). Oracle replicates Spark's slide expansion: each event
    belongs to exactly window/slide = 5 epoch-aligned windows."""
    ev = _t(spark, sf_dir, "events")
    return sliding_stats(ev, "user_id")


@query(
    "q04_time_since_last",
    sql="""
    SELECT event_id, user_id, epoch_us(ts) AS us,
      epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta_us
    FROM events
    """,
)
def q04_time_since_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-event time-since-last (transaction.py:65-69)."""
    ev = _t(spark, sf_dir, "events")
    return time_since_last(ev, "user_id").select("event_id", "user_id", "us", "delta_us")


@query(
    "q05_multi_horizon",
    sql="""
    SELECT event_id, user_id, epoch_us(ts) AS us,
      COUNT(*) OVER w5  AS cnt_5m,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w5  AS DOUBLE) AS sum_5m,
      COUNT(*) OVER w30 AS cnt_30m,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w30 AS DOUBLE) AS sum_30m,
      COUNT(*) OVER w24 AS cnt_24h,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w24 AS DOUBLE) AS sum_24h
    FROM events
    WINDOW
      w5  AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW),
      w30 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW),
      w24 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    """,
)
def q05_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 fixed: true per-event trailing 5 m/30 m/24 h horizons (the
    reference's were capped at the 5 m buffer — transaction.py:105-109)."""
    ev = _t(spark, sf_dir, "events")
    return multi_horizon_counts(ev, "user_id").select(
        "event_id", "user_id", "us",
        "cnt_5m", "sum_5m", "cnt_30m", "sum_30m", "cnt_24h", "sum_24h",
    )


@query(
    "q07_event_type_mode",
    sql="""
    SELECT user_id, event_type AS top_event_type, cnt AS type_count
    FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def q07_event_type_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: mode/arg-max via groupBy + row_number with a deterministic
    lexicographic tiebreak (the reference's `max(dist, key=...)` at
    transaction.py:269-280 inherits dict order — we pin it down)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_event_type"),
            F.col("cnt").alias("type_count"),
        )
    )


@query(
    "q08_user_sessions",
    sql=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
      COUNT(*) AS n_events,
      MIN(us) AS session_start_us,
      MAX(us) AS session_end_us,
      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      {_DSUM.format(c='value')} AS value_sum,
      ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            / GREATEST(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT), 1), 6)
        AS conversion_rate,
      ROUND((MAX(us) - MIN(us)) / 6.0e7, 4) AS session_minutes
    FROM sess GROUP BY user_id, sid
    """,
)
def q08_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/A16: 30-minute-gap sessions + funnel ratios via F.session_window
    (clickstream.py:31-65,96-97). Oracle is the classic gaps-and-islands."""
    ev = _t(spark, sf_dir, "events")
    return funnel_features(ev, "user_id")


@query(
    "q09_user_type_ratios",
    sql=f"""
    SELECT user_id,
      COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            / CAST(COUNT(*) AS DOUBLE), 6) AS purchase_ratio,
      ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
            / CAST(COUNT(*) AS DOUBLE), 6) AS error_ratio,
      CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END AS DECIMAL(18,4))) AS DOUBLE)
        AS purchase_value_sum
    FROM events GROUP BY user_id
    """,
)
def q09_user_type_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: conditional counts → ratios (high-risk MCC ratio shape,
    transaction.py:78-83,115-120)."""
    ev = _t(spark, sf_dir, "events")
    p = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    e = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            p.alias("purchases"),
            e.alias("errors"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("purchase_value_sum"),
        )
        .withColumn(
            "purchase_ratio",
            F.round(F.col("purchases") / F.col("n_events").cast("double"), 6),
        )
        .withColumn(
            "error_ratio",
            F.round(F.col("errors") / F.col("n_events").cast("double"), 6),
        )
    )


@query(
    "q10_value_zscore",
    sql="""
    SELECT event_id, user_id,
      ROUND((value - CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                     / COUNT(value) OVER w)
            / STDDEV_SAMP(value) OVER w, 4) AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def q10_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: per-event z-score vs the entity distribution
    (transaction.py:123-125), sample stddev per SURVEY §4 delta 3."""
    ev = _t(spark, sf_dir, "events")
    return zscore_vs_entity(ev, "user_id").select(
        "event_id", "user_id", F.round(F.col("zscore"), 4).alias("zscore")
    )


@query(
    "q11_rolling_last_100",
    sql="""
    SELECT event_id, user_id,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
            / COUNT(*) OVER w, 6) AS rolling_avg,
      COUNT(*) OVER w AS rolling_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    """,
)
def q11_rolling_last_100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: rolling mean over the last 100 events per entity — the
    fraud-rate-over-last-100 tracker (fraud_detector.py:241-265)."""
    ev = _t(spark, sf_dir, "events")
    return rolling_last_n(ev, "user_id", 100).select(
        "event_id",
        "user_id",
        F.round(F.col("rolling_avg"), 6).alias("rolling_avg"),
        "rolling_n",
    )


@query(
    "q12_engagement_score",
    sql="""
    SELECT user_id, CAST(ts AS DATE) AS day,
      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      ROUND(0.3 * LEAST(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) / 10.0, 1.0)
          + 0.3 * LEAST(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) / 10.0, 1.0)
          + 0.4 * LEAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) / 5.0, 1.0),
          6) AS engagement_score
    FROM events GROUP BY user_id, day
    """,
)
def q12_engagement_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: weighted clamped engagement score (clickstream.py:100-104),
    per user-day."""
    ev = _t(spark, sf_dir, "events")
    cnt = lambda t: F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
    g = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        cnt("view").alias("views"),
        cnt("click").alias("clicks"),
        cnt("purchase").alias("purchases"),
    )
    score = (
        0.3 * F.least(F.col("views") / 10.0, F.lit(1.0))
        + 0.3 * F.least(F.col("clicks") / 10.0, F.lit(1.0))
        + 0.4 * F.least(F.col("purchases") / 5.0, F.lit(1.0))
    )
    return g.withColumn("engagement_score", F.round(score, 6))


@query(
    "q13_event_flags",
    sql="""
    SELECT event_id, user_id, value, event_type,
      value > 100 AS is_high_value,
      value % 50 = 0 AND value >= 50 AS is_round_amount,
      event_type = 'error' AS is_error,
      CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
      dayofweek(ts) IN (0, 6) AS is_weekend,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def q13_event_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3-P6, P10: scalar predicate/extraction features — set membership,
    round-amount modulo (transaction.py:115-120), weekend/hour extraction
    (transaction.py:100-103), JSON field extraction (metadata map shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        "event_type",
        (F.col("value") > 100).alias("is_high_value"),
        ((F.col("value") % 50 == 0) & (F.col("value") >= 50)).alias("is_round_amount"),
        (F.col("event_type") == "error").alias("is_error"),
        F.hour("ts").alias("hour_of_day"),
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# ---------------------------------------------------------------------------
# Joins & union — SURVEY §2.4
# ---------------------------------------------------------------------------


@query(
    "q14_asof_purchase_features",
    sql="""
    WITH u AS (
      SELECT user_id, epoch_us(ts) AS us, 0 AS src, event_id, value AS fval
      FROM events WHERE event_type <> 'purchase'
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, event_id, NULL
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT *, LAST_VALUE(fval IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY us, src, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
      FROM u
    )
    SELECT user_id, us AS label_ts_us, event_id AS label_key, asof_value
    FROM c WHERE src = 1
    """,
)
def q14_asof_purchase_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: point-in-time join. For every purchase, the latest preceding
    non-purchase event value (feast/feature_utils.py:151-232 semantics),
    via the linear union+last_value pattern — no join explosion at scale."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    labels = ev.filter(F.col("event_type") == "purchase")
    feats = ev.filter(F.col("event_type") != "purchase").withColumnRenamed(
        "value", "fval"
    )
    return asof_join(
        labels,
        feats,
        entity_col="user_id",
        label_ts_us="us",
        feature_ts_us="us",
        feature_cols=["fval"],
        label_cols=[],
        tiebreak_col="event_id",
    ).select(
        "user_id", "label_ts_us", "label_key", F.col("asof_fval").alias("asof_value")
    )


@query(
    "q16_union_activity",
    sql=f"""
    WITH u AS (
      SELECT user_id AS entity_id, epoch_us(ts) AS ts_us, 'event' AS kind, value AS amount
      FROM events
      UNION ALL
      SELECT o_custkey, epoch_us(o_orderdate), 'order', o_totalprice FROM orders
    )
    SELECT kind, COUNT(*) AS n, {_DSUM.format(c='amount')} AS amount_sum,
      MIN(ts_us) AS min_ts_us, MAX(ts_us) AS max_ts_us
    FROM u GROUP BY kind
    """,
)
def q16_union_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: stream-union shape (feature_job.py:489 unions the two feature
    streams before the sink) — unionByName over conformed projections."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("entity_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.lit("event").alias("kind"),
        F.col("value").alias("amount"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.unix_micros("o_orderdate").alias("ts_us"),
        F.lit("order").alias("kind"),
        F.col("o_totalprice").alias("amount"),
    )
    return (
        ev.unionByName(orders)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            dsum("amount").alias("amount_sum"),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis & dedup over documents — beyond-reference operators
# ---------------------------------------------------------------------------

_SHINGLES_SQL = """
      list_distinct(CASE WHEN len(l) >= 3
        THEN list_transform(generate_series(1, len(l) - 2),
                            j -> l[j] || ' ' || l[j+1] || ' ' || l[j+2])
        ELSE CAST([] AS VARCHAR[]) END)
"""


@query(
    "q19_doc_token_stats",
    sql="""
    SELECT doc_id, lang, source,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens,
      CAST(length(text) AS BIGINT) AS n_chars_calc,
      ROUND((length(text) - (len(string_split(text, ' ')) - 1))
            / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^ A-Za-z0-9]+'))
           AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q19_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over the documents table (text-analysis family):
    whitespace tokens plus the GPT-2-style class-run (BPE pre-tokenizer)
    count — same RE2-safe regex evaluated by both engines."""
    from streaming_feature_store_spark.operators.text import token_stats

    d = token_stats(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_unique_tokens").cast("long").alias("n_unique_tokens"),
        F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
        "avg_token_len",
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


@query(
    "q20_doc_quality",
    sql="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    )
    SELECT doc_id,
      CAST(len(l) AS BIGINT) AS n_tokens,
      ROUND(len(list_filter(l, x -> x = 'the' OR x = 'a'))
            / CAST(len(l) AS DOUBLE), 6) AS stopword_ratio,
      ROUND(len(list_distinct(l)) / CAST(len(l) AS DOUBLE), 6) AS lexical_diversity,
      len(l) >= 10 AND len(l) <= 1000
        AND len(list_filter(l, x -> x = 'the' OR x = 'a')) / CAST(len(l) AS DOUBLE) < 0.5
        AS is_quality
    FROM t
    """,
)
def q20_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, lexical diversity, length gates."""
    from streaming_feature_store_spark.operators.text import quality_features

    d = quality_features(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stopword_ratio",
        "lexical_diversity",
        "is_quality",
    )


@query(
    "q21_exact_dup_groups",
    sql="""
    SELECT md5(text) AS fingerprint, COUNT(*) AS dup_count, MIN(doc_id) AS first_doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def q21_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint → group (dedup family, hash-groupBy)."""
    from streaming_feature_store_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_t(spark, sf_dir, "documents"))


@query(
    "q22_jaccard_near_dups",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
      ROUND(n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE), 6) AS jaccard
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
    """,
)
def q22_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (3-shingle) Jaccard near-dup pairs via the inverted-index
    self-join plan (dedup family)."""
    from streaming_feature_store_spark.operators.dedup import jaccard_pairs

    p = jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
    return p.filter(F.col("jaccard") >= 0.5)


@query(
    "q23_lang_source_stats",
    sql="""
    SELECT lang, source, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      ROUND(CAST(SUM(n_chars) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 4) AS chars_avg
    FROM documents GROUP BY lang, source
    """,
)
def q23_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars_sum"))
        .withColumn(
            "chars_avg",
            F.round(F.col("chars_sum") / F.col("n_docs").cast("double"), 4),
        )
    )


@query(
    "q24_lang_id",
    sql="""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
    ), s AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(l, x -> x = 'the' OR x = 'a')) AS BIGINT) AS score_en,
        CAST(len(list_filter(l, x -> x = 'window' OR x = 'batch')) AS BIGINT) AS score_de,
        CAST(len(list_filter(l, x -> x = 'data' OR x = 'query')) AS BIGINT) AS score_es,
        CAST(len(list_filter(l, x -> x = 'stream' OR x = 'vector')) AS BIGINT) AS score_fr,
        CAST(len(list_filter(l, x -> x = 'spark' OR x = 'hash')) AS BIGINT) AS score_zh
      FROM t
    )
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
      CASE
        WHEN score_de = GREATEST(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
        WHEN score_en = GREATEST(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
        WHEN score_es = GREATEST(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
        WHEN score_fr = GREATEST(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
        ELSE 'zh' END AS predicted_lang
    FROM s
    """,
)
def q24_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic marker-profile language ID (text-analysis family)."""
    from streaming_feature_store_spark.operators.text import LANG_MARKERS, lang_id

    d = lang_id(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        "lang",
        *[F.col(f"score_{l}").cast("long").alias(f"score_{l}") for l in LANG_MARKERS],
        "predicted_lang",
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings — beyond-reference operators
# ---------------------------------------------------------------------------


@query(
    "q25_cosine_topk",
    sql="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
    ), scored AS (
      SELECT query_id, e.vec_id AS nbr_id,
        ROUND(list_dot_product(e.v, qv)
              / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))),
              6) AS cosine
      FROM e CROSS JOIN q
      WHERE e.vec_id <> query_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)
def q25_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for the first 10 vectors
    (similarity-search baseline; LSH variant is q33)."""
    from streaming_feature_store_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


# ---------------------------------------------------------------------------
# Drift detection — SURVEY §2.7 M10-M13
# ---------------------------------------------------------------------------

_DRIFT_CUT = "TIMESTAMP '2024-01-16 00:00:00'"


@query(
    "q26_psi_drift",
    sql=f"""
    WITH d AS (
      SELECT value, ts >= {_DRIFT_CUT} AS grp FROM events
    ), b AS (
      SELECT CASE WHEN value >= 200 THEN 5 WHEN value >= 100 THEN 4
                  WHEN value >= 50 THEN 3 WHEN value >= 25 THEN 2
                  WHEN value >= 10 THEN 1 ELSE 0 END AS bucket, grp
      FROM d
    ), c AS (
      SELECT bucket,
        SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS ne,
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS na
      FROM b GROUP BY bucket
    ), t AS (SELECT SUM(ne) AS te, SUM(na) AS ta FROM c)
    SELECT ROUND(SUM(
        ((na / CAST(ta AS DOUBLE) + 1e-6) - (ne / CAST(te AS DOUBLE) + 1e-6))
        * ln((na / CAST(ta AS DOUBLE) + 1e-6) / (ne / CAST(te AS DOUBLE) + 1e-6))
      ), 6) AS psi
    FROM c CROSS JOIN t
    """,
)
def q26_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: PSI between first/second half of the event stream over fixed
    value buckets (drift_check.py:138-169)."""
    from streaming_feature_store_spark.operators.drift import psi

    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")
    )
    return psi(ev, "value", "grp", edges=[10.0, 25.0, 50.0, 100.0, 200.0])


@query(
    "q27_ks_drift",
    sql=f"""
    WITH d AS (
      SELECT value, ts >= {_DRIFT_CUT} AS grp FROM events
    ), c AS (
      SELECT ABS(
          SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER w
            / CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER () AS DOUBLE)
          - SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER w
            / CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER () AS DOUBLE)
        ) AS dd
      FROM d
      WINDOW w AS (ORDER BY value RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT ROUND(MAX(dd), 6) AS ks_stat FROM c
    """,
)
def q27_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: two-sample KS statistic between stream halves
    (drift_check.py:50-136), via cumulative conditional counts."""
    from streaming_feature_store_spark.operators.drift import ks_statistic

    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")
    )
    return ks_statistic(ev, "value", "grp")


@query(
    "q28_chi2_drift",
    sql=f"""
    WITH d AS (
      SELECT event_type, ts >= {_DRIFT_CUT} AS grp FROM events
    ), cells AS (
      SELECT event_type, grp, COUNT(*) AS o FROM d GROUP BY 1, 2
    ), x AS (
      SELECT *, SUM(o) OVER (PARTITION BY event_type) AS rt,
             SUM(o) OVER (PARTITION BY grp) AS ct,
             SUM(o) OVER () AS n
      FROM cells
    )
    SELECT
      ROUND(SUM((o - rt * ct / CAST(n AS DOUBLE)) * (o - rt * ct / CAST(n AS DOUBLE))
                / (rt * ct / CAST(n AS DOUBLE))), 6) AS chi2,
      CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT grp) - 1) AS BIGINT) AS dof
    FROM x
    """,
)
def q28_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: chi-square categorical drift (event_type × stream half,
    drift_check.py:85-97)."""
    from streaming_feature_store_spark.operators.drift import chi_square

    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")
    )
    return chi_square(ev, "event_type", "grp")


# ---------------------------------------------------------------------------
# Daily rollups + cross-table point-in-time enrichment
# ---------------------------------------------------------------------------


@query(
    "q29_daily_rollup",
    sql=f"""
    SELECT CAST(ts AS DATE) AS day,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS active_users,
      {_DSUM.format(c='value')} AS value_sum,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
            / CAST(COUNT(*) AS DOUBLE), 6) AS error_rate
    FROM events GROUP BY day
    """,
)
def q29_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity rollup: DAU, volumes, error rate (freshness/metrics
    family, SURVEY §2.6 T9-T10 batch analog)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("active_users"),
            dsum("value").alias("value_sum"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "errors"
            ),
        )
        .withColumn(
            "error_rate",
            F.round(F.col("errors") / F.col("n_events").cast("double"), 6),
        )
    )


@query(
    "q30_hourly_histogram",
    sql=f"""
    SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
      COUNT(*) AS n_events,
      {_DSUM.format(c='value')} AS value_sum
    FROM events GROUP BY hour_of_day
    """,
)
def q30_hourly_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day histogram (most_active_hour input — A13,
    transaction.py:269-280)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").alias("hour_of_day")).agg(
        F.count("*").alias("n_events"), dsum("value").alias("value_sum")
    )


@query(
    "q31_asof_order_enrichment",
    sql="""
    WITH u AS (
      SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS us, 0 AS src,
             o_orderkey AS tb, o_totalprice AS fval
      FROM orders
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, event_id, NULL
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT *, LAST_VALUE(fval IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY us, src, tb
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_order_value
      FROM u
    )
    SELECT user_id, us AS label_ts_us, tb AS label_key, asof_order_value
    FROM c WHERE src = 1
    """,
)
def q31_asof_order_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 across tables: enrich purchase events with the customer's latest
    order value as of the event time (training-set PIT assembly shape)."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    labels = ev.filter(F.col("event_type") == "purchase")
    orders = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros("o_orderdate").alias("us"),
            F.col("o_orderkey").alias("event_id"),
            F.col("o_totalprice").alias("order_value"),
        )
    )
    return asof_join(
        labels,
        orders,
        entity_col="user_id",
        label_ts_us="us",
        feature_ts_us="us",
        feature_cols=["order_value"],
        label_cols=[],
        tiebreak_col="event_id",
    ).select(
        "user_id",
        "label_ts_us",
        "label_key",
        F.col("asof_order_value").alias("asof_order_value"),
    )


# ---------------------------------------------------------------------------
# Remaining aggregate/expression families — A4, A8-A9, A12-A13, P13-P14
# ---------------------------------------------------------------------------


@query(
    "q32_user_value_stddev",
    sql="""
    SELECT user_id,
      COUNT(value) AS n,
      ROUND(STDDEV_SAMP(value), 4) AS value_std,
      ROUND(VAR_SAMP(value), 4) AS value_var
    FROM events GROUP BY user_id
    """,
)
def q32_user_value_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: SAMPLE stddev — the documented semantics (the reference mixes
    population and sample divisors, transaction.py:93-98 vs :248-251;
    SURVEY §4 delta 3 resolves to sample)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("value").alias("n"),
        F.round(F.stddev_samp("value"), 4).alias("value_std"),
        F.round(F.var_samp("value"), 4).alias("value_var"),
    )


@query(
    "q33_risk_ladder",
    sql="""
    SELECT event_id,
      ROUND(LEAST(value / 500.0, 1.0), 6) AS score,
      CASE WHEN LEAST(value / 500.0, 1.0) >= 0.7 THEN 'critical'
           WHEN LEAST(value / 500.0, 1.0) >= 0.4 THEN 'high'
           WHEN LEAST(value / 500.0, 1.0) >= 0.15 THEN 'medium'
           ELSE 'low' END AS risk_level,
      CASE WHEN LEAST(value / 500.0, 1.0) >= 0.7 THEN 'block'
           WHEN LEAST(value / 500.0, 1.0) >= 0.4 THEN 'review'
           WHEN LEAST(value / 500.0, 1.0) >= 0.15 THEN 'monitor'
           ELSE 'allow' END AS action
    FROM events
    """,
)
def q33_risk_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: threshold ladder score → risk_level/action
    (inference/models.py:493-540; thresholds 0.15/0.4/0.7), driven by a
    clamped normalized value as the stand-in score."""
    from streaming_feature_store_spark.functions.exprs import clamp01
    from streaming_feature_store_spark.functions.interpret import risk_action, risk_level

    ev = _t(spark, sf_dir, "events")
    s = clamp01(F.col("value") / 500.0)
    return ev.select(
        "event_id",
        F.round(s, 6).alias("score"),
        risk_level(s).alias("risk_level"),
        risk_action(s).alias("action"),
    )


@query(
    "q34_profile_default_fill",
    sql="""
    SELECT e.event_id, e.user_id,
      COALESCE(c.c_acctbal, 0.0) AS acctbal,
      COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
      c.c_custkey IS NOT NULL AS had_profile
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q34_profile_default_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P13: left enrichment join + declared defaults for missing profile
    fields (inference/features.py:405-460). Customer scales with sf, so
    its join carries no static broadcast hint — AQE promotes at runtime
    when the observed size is safe."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    return (
        ev.join(c, ev["user_id"] == c["c_custkey"], "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("c_acctbal"), F.lit(0.0)).alias("acctbal"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
            F.col("c_custkey").isNotNull().alias("had_profile"),
        )
    )


@query(
    "q35_user_hour_profile",
    sql="""
    WITH hc AS (
      SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), top AS (
      SELECT user_id, h AS most_active_hour
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY cnt DESC, h) AS rn FROM hc)
      WHERE rn = 1
    ), wk AS (
      SELECT user_id,
        ROUND(CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT)
              / CAST(COUNT(*) AS DOUBLE), 6) AS weekend_ratio
      FROM events GROUP BY user_id
    )
    SELECT top.user_id, most_active_hour, weekend_ratio FROM top JOIN wk ON top.user_id = wk.user_id
    """,
)
def q35_user_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: most_active_hour (mode with deterministic tiebreak) + weekend
    ratio (transaction.py:269-280)."""
    ev = _t(spark, sf_dir, "events")
    hc = ev.groupBy("user_id", F.hour("ts").alias("h")).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("h"))
    top = (
        hc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("h").alias("most_active_hour"))
    )
    wk = ev.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("weekend_ratio")
    )
    return top.join(wk, "user_id")


@query(
    "q36_velocity",
    sql="""
    SELECT user_id,
      COUNT(*) AS n_events,
      ROUND(COUNT(*) / ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 3.6e9), 4)
        AS events_per_hour,
      ROUND(LEAST(COUNT(*) / ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 3.6e9) / 10.0,
                  1.0), 6) AS velocity_score,
      ROUND((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / (COUNT(*) - 1) / 6.0e7, 4)
        AS avg_gap_min
    FROM events GROUP BY user_id HAVING COUNT(*) > 1
    """,
)
def q36_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9: event velocity (events/hour, clamped score — transaction.py:
    86-91) and mean inter-arrival gap = (max−min)/(n−1) (transaction.py:69)."""
    from streaming_feature_store_spark.functions.exprs import clamp01

    ev = _t(spark, sf_dir, "events")
    span_us = F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))
    n = F.count("*")
    eph = n / (span_us / 3.6e9)
    return (
        ev.groupBy("user_id")
        .agg(
            n.alias("n_events"),
            F.round(eph, 4).alias("events_per_hour"),
            F.round(clamp01(eph / 10.0), 6).alias("velocity_score"),
            F.round(span_us / (n - 1) / 6.0e7, 4).alias("avg_gap_min"),
        )
        .filter(F.col("n_events") > 1)
    )


@query(
    "q37_same_type_affinity",
    sql="""
    SELECT event_id, user_id, event_type,
      COUNT(*) OVER wt AS same_type_24h,
      COUNT(*) OVER wu AS total_24h,
      ROUND(COUNT(*) OVER wt / CAST(COUNT(*) OVER wu AS DOUBLE), 6) AS type_affinity
    FROM events
    WINDOW
      wt AS (PARTITION BY user_id, event_type ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW),
      wu AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    """,
)
def q37_same_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 analog: device-reuse ratio (transaction.py:137-139) generalized —
    share of the entity's trailing-24 h events matching the current event's
    type, via two range frames (one per partitioning)."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    wt = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("us")
        .rangeBetween(-86_400_000_000, 0)
    )
    wu = Window.partitionBy("user_id").orderBy("us").rangeBetween(-86_400_000_000, 0)
    same = F.count("*").over(wt)
    tot = F.count("*").over(wu)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        same.alias("same_type_24h"),
        tot.alias("total_24h"),
        F.round(same / tot.cast("double"), 6).alias("type_affinity"),
    )


@query(
    "q38_top_parts_by_revenue",
    sql=f"""
    SELECT p_partkey, p_name, p_brand,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS revenue,
      COUNT(*) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_name, p_brand
    ORDER BY revenue DESC, p_partkey
    LIMIT 20
    """,
)
def q38_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k over the part dimension (no static broadcast
    hint — part scales linearly with sf; AQE promotes at runtime)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(dsum(rev, 6).alias("revenue"), F.count("*").alias("n_lineitems"))
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Sketch operators with EXACT oracles. The sketches themselves (xxhash64
# minhashes, simhash bits, sign-LSH buckets) are Spark-specific, but each
# query's OUTPUT is an exactly verifiable quantity: the sketch proposes
# candidates, exact verification (Jaccard / cosine) runs on candidates only,
# and the DuckDB oracle computes the same exact result from scratch. Green
# iff the sketch's recall on this corpus is 1 — which is deterministic
# (fixed salts, fixed data) and probed in tools/oracle_probe.py.
# ---------------------------------------------------------------------------

# Exact 3-shingle Jaccard pair oracle (shared by q39/q40): same CTEs as q22
# but without the n_common column (the sketch paths emit (doc_a, doc_b,
# jaccard) after candidate verification).
_JACCARD_PAIRS_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
      ROUND(n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE), 6) AS jaccard
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
"""


@query("q39_minhash_near_dups", sql=_JACCARD_PAIRS_ORACLE)
def q39_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banded candidate generation + exact-Jaccard verification.
    Oracled against the exact all-pairs Jaccard (q22's pair set): the
    candidate stage is probabilistic in design but deterministic in fact
    (fixed xxhash64 salts), and its recall on this corpus is 1 — probed in
    tools/oracle_probe.py — so the verified output ≡ the exact result."""
    from streaming_feature_store_spark.operators.dedup import minhash_near_dups

    return minhash_near_dups(_t(spark, sf_dir, "documents"), threshold=0.5)


@query("q40_simhash_near_dups", sql=_JACCARD_PAIRS_ORACLE)
def q40_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded Hamming retrieval + rare-shingle recall backstop +
    exact-Jaccard verification. The banded tier is recall-guaranteed within
    Hamming bands−1=7 (pigeonhole); the rare-shingle tier (df ≤ 4) covers
    the measured drift of true-pair Hamming beyond the band guarantee
    (tails: ≤9 sf0.001, ≤5 sf0.01, ≤11 sf0.1). Measured union recall = 1.0
    at every test scale, so the verified output ≡ the exact-Jaccard oracle
    — see operators/dedup.py:simhash_near_dups for the complementarity
    argument and cost bounds."""
    from streaming_feature_store_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf_dir, "documents"), threshold=0.5)


# ANN over a corpus with genuine near-neighbor structure: the raw embeddings
# table is near-uniform (max off-diagonal cosine ≈ 0.5, where no honest LSH
# can reach recall 1 — measured in tools/oracle_probe.py), so q41 plants a
# deterministic near-duplicate twin per vector (component d scaled by
# 1 + ((vec_id·31 + d·7) mod 11 − 5)/100, cosine ≈ 0.999) and asks for
# top-1 — the realistic near-dup-retrieval workload, reproducible exactly
# in DuckDB.
_Q41_ORACLE = """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), twin AS (
      SELECT b.vec_id + 1000000 AS vec_id,
        list_transform(generate_series(1, len(b.v)),
          j -> b.v[j] * (1 + ((b.vec_id * 31 + (j - 1) * 7) % 11 - 5) / 100.0)) AS v
      FROM base b
    ), corpus AS (
      SELECT * FROM base UNION ALL SELECT * FROM twin
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 10
    ), scored AS (
      SELECT query_id, c.vec_id AS nbr_id,
        ROUND(list_dot_product(c.v, qv)
              / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qv, qv))),
              6) AS cosine
      FROM corpus c CROSS JOIN q
      WHERE c.vec_id <> query_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= 1
"""


@query("q41_lsh_cosine_topk", sql=_Q41_ORACLE)
def q41_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate nearest neighbor over a corpus with planted
    near-duplicate twins (cosine ≈ 0.999); the returned neighbor carries
    its EXACT cosine (LSH proposes, exact verification scores), so the
    DuckDB exact top-1 is a true oracle. Exact-baseline twin on the raw
    corpus is q25."""
    from streaming_feature_store_spark.operators.similarity import (
        as_double_vec,
        lsh_cosine_topk,
    )

    base = as_double_vec(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    # rename before projecting: a bare `vec_id` inside the lambda would
    # resolve against the re-aliased output column, not the input
    twin = base.withColumnRenamed("vec_id", "orig_id").select(
        (F.col("orig_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x
            * (1 + ((F.col("orig_id") * 31 + i * 7) % 11 - 5) / F.lit(100.0)),
        ).alias("embedding"),
    )
    corpus = base.unionByName(twin)
    queries_df = base.filter(F.col("vec_id") < 10)
    return lsh_cosine_topk(corpus, queries_df, dim=64, k=1, bits=8)


@query(
    "q42_out_of_order_stats",
    sql="""
    WITH x AS (
      SELECT user_id,
        CASE WHEN epoch_us(ts) < LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id)
             THEN 1 ELSE 0 END AS ooo
      FROM events
    )
    SELECT user_id,
      COUNT(*) AS n_events,
      CAST(SUM(ooo) AS BIGINT) AS out_of_order,
      ROUND(CAST(SUM(ooo) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6) AS ooo_rate
    FROM x GROUP BY user_id
    """,
)
def q42_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: out-of-order detection — events whose event time regresses vs the
    previous ARRIVAL (arrival order = event_id, the generation sequence),
    per entity (watermarks.py:108-148's rolling out-of-order rate)."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    ooo = F.when(F.col("us") < F.lag("us").over(w), 1).otherwise(0)
    return (
        ev.select("user_id", ooo.alias("ooo"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("ooo").alias("out_of_order"),
            F.round(F.sum("ooo") / F.count("*").cast("double"), 6).alias("ooo_rate"),
        )
    )


@query(
    "q43_supplier_region_stats",
    sql=f"""
    SELECT r_name, n_name,
      COUNT(*) AS n_suppliers,
      {_DSUM.format(c='s_acctbal')} AS acctbal_sum,
      MAX(s_acctbal) AS acctbal_max
    FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q43_supplier_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-chain join (supplier→nation→region) — completes coverage of
    every corpus table; both dims broadcast."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            dsum("s_acctbal").alias("acctbal_sum"),
            F.max("s_acctbal").alias("acctbal_max"),
        )
    )


@query(
    "q44_timestamp_normalization",
    sql="""
    WITH raw AS (
      SELECT event_id,
        CASE WHEN event_id % 2 = 0 THEN epoch_us(ts) // 1000000
             ELSE epoch_us(ts) // 1000 END AS mixed_epoch
      FROM events
    )
    SELECT event_id,
      CASE WHEN mixed_epoch > 10000000000 THEN mixed_epoch
           ELSE mixed_epoch * 1000 END AS epoch_ms
    FROM raw
    """,
)
def q44_timestamp_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: seconds-vs-milliseconds heuristic normalization
    (streaming/core/utils/watermarks.py:29-64): values ≤ 1e10 are seconds,
    above are already ms. Mixed-unit input synthesized by event parity."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    mixed = F.when(
        F.col("event_id") % 2 == 0, F.expr("us DIV 1000000")
    ).otherwise(F.expr("us DIV 1000"))
    d = ev.select("event_id", mixed.alias("mixed_epoch"))
    return d.select(
        "event_id",
        F.when(F.col("mixed_epoch") > 10_000_000_000, F.col("mixed_epoch"))
        .otherwise(F.col("mixed_epoch") * 1000)
        .alias("epoch_ms"),
    )


@query(
    "q45_approx_distinct",
    sql="""
    SELECT event_type,
      COUNT(DISTINCT user_id) AS exact_users,
      COUNT(*) AS n_events,
      TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
)
def q45_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 scale path: HyperLogLog++ approximate distinct counts — the 100 TB
    substitute for exact COUNT DISTINCT. The HLL estimate itself is
    engine-specific, so the oracled output carries the exact count plus an
    ``approx_ok`` flag: |HLL − exact|/exact ≤ 0.05 (measured 0.0067 on this
    corpus, rsd=0.01). The oracle recomputes the exact count and asserts
    the flag — a red row means the sketch drifted out of tolerance."""
    ev = _t(spark, sf_dir, "events")
    # two-level aggregation instead of countDistinct+HLL in one agg: the
    # mixed form compiles to an Expand (row duplication per distinct
    # branch), while pre-distincting (event_type, user_id) feeds BOTH the
    # exact count (count over distinct pairs) and the HLL (sketches are
    # duplicate-insensitive, so the estimate is identical) — one map-side
    # partial distinct, one tiny second-level shuffle
    pairs = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    return (
        pairs.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx"),
            F.count("*").alias("exact_users"),
            F.sum("c").alias("n_events"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                / F.col("exact_users").cast("double")
                <= 0.05
            ).alias("approx_ok"),
        )
    )


@query(
    "q46_wide_feature_frame",
    sql="""
    SELECT event_id, user_id, epoch_us(ts) AS us,
      COUNT(*) OVER w5 AS cnt_5m,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w5 AS DOUBLE) AS sum_5m,
      COUNT(*) OVER w30 AS cnt_30m,
      COUNT(*) OVER w24 AS cnt_24h,
      epoch_us(ts) - LAG(epoch_us(ts)) OVER wo AS delta_us,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER wr AS DOUBLE)
            / COUNT(*) OVER wr, 6) AS rolling_avg_100,
      ROUND((value - CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER wu AS DOUBLE)
                     / COUNT(value) OVER wu)
            / STDDEV_SAMP(value) OVER wu, 4) AS zscore,
      value > 100 AS is_high_value,
      CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
      dayofweek(ts) IN (0, 6) AS is_weekend
    FROM events
    WINDOW
      w5  AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW),
      w30 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW),
      w24 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW),
      wo  AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
      wr  AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
              ROWS BETWEEN 99 PRECEDING AND CURRENT ROW),
      wu  AS (PARTITION BY user_id)
    """,
)
def q46_wide_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: the full per-event feature vector in one pass — the Spark
    restatement of the reference's ~35-feature per-event computation
    (transaction.py:33-207). Six window specs share ONE hash partitioning
    (user_id), so the plan is a single shuffle + a couple of sorts feeding
    every frame; scalar features ride along in the same projection."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    by_us = Window.partitionBy("user_id").orderBy("us")
    by_arr = Window.partitionBy("user_id").orderBy("us", "event_id")
    w5 = by_us.rangeBetween(-300_000_000, 0)
    w30 = by_us.rangeBetween(-1_800_000_000, 0)
    w24 = by_us.rangeBetween(-86_400_000_000, 0)
    wr = by_arr.rowsBetween(-99, 0)
    wu = Window.partitionBy("user_id")
    dec = F.col("value").cast("decimal(18,4)")
    mu = F.sum(dec).over(wu).cast("double") / F.count("value").over(wu)
    return ev.select(
        "event_id",
        "user_id",
        "us",
        F.count("*").over(w5).alias("cnt_5m"),
        F.sum(dec).over(w5).cast("double").alias("sum_5m"),
        F.count("*").over(w30).alias("cnt_30m"),
        F.count("*").over(w24).alias("cnt_24h"),
        (F.col("us") - F.lag("us").over(by_arr)).alias("delta_us"),
        F.round(
            F.sum(dec).over(wr).cast("double") / F.count("*").over(wr), 6
        ).alias("rolling_avg_100"),
        F.round((F.col("value") - mu) / F.stddev_samp("value").over(wu), 4).alias(
            "zscore"
        ),
        (F.col("value") > 100).alias("is_high_value"),
        F.hour("ts").alias("hour_of_day"),
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
    )


@query(
    "q47_discount_revenue",
    sql="""
    SELECT
      CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def q47_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: pure scan-filter-aggregate — every predicate reaches
    the parquet scan (PushedFilters), zero shuffle beyond the 1-row agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q48_salted_user_stats",
    sql=f"""
    SELECT user_id,
      COUNT(*) AS n,
      {_DSUM.format(c='value')} AS total,
      MIN(value) AS vmin,
      MAX(value) AS vmax
    FROM events GROUP BY user_id
    """,
)
def q48_salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-phase aggregation (operators/skew.py) — the
    oracle is the plain single-phase GROUP BY, proving the salted plan is
    result-identical (decimal accumulation keeps doubles bit-equal)."""
    from streaming_feature_store_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    return salted_agg(
        ev,
        "user_id",
        {
            "n": ("count", "*"),
            "total": ("sum", "value"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
    )


@query(
    "q49_rollup_revenue",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
      {_DSUM.format(c='l_extendedprice')} AS revenue,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q49_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (beyond the reference's surface —
    SURVEY §2.3 notes it has no grouping sets; standard for reporting
    cubes). Spark computes all grouping sets in one shuffle (Expand)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("revenue"), F.count("*").alias("n")
    )


@query(
    "q50_shipping_priority",
    sql=f"""
    SELECT l_orderkey, o_orderdate,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q50_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: selective dim filter → two joins → agg → top-k.
    The segment filter prunes customer BEFORE the broadcast; both date
    predicates push to the fact scans."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(rev, 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q51_promo_revenue_share",
    sql="""
    SELECT ROUND(
      100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(18,6)))
              AS DOUBLE)
      / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
      6) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q51_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: conditional-revenue share over a part join (AQE
    runtime broadcast; no static hint on the sf-scaling part dim)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).cast("decimal(18,6)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(promo).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("promo_share_pct")
        )
    )


@query(
    "q52_value_percentiles",
    sql="""
    SELECT event_type,
      ROUND(quantile_cont(value, 0.5), 4) AS p50,
      ROUND(quantile_cont(value, 0.9), 4) AS p90,
      ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
)
def q52_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (latency-SLO style rollups —
    BASELINE.md's p50/p95/p99 reporting shape). Both engines use the
    (n−1)·p linear-interpolation definition. At 100 TB swap to
    approx_percentile with a documented error bound."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


@query(
    "q53_ks_by_feature",
    sql="""
    WITH long AS (
      SELECT 'l_quantity' AS feature, l_quantity AS value,
             l_returnflag = 'R' AS grp FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice, l_returnflag = 'R' FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount, l_returnflag = 'R' FROM lineitem
      UNION ALL
      SELECT 'l_tax', l_tax, l_returnflag = 'R' FROM lineitem
    ), c AS (
      SELECT feature, ABS(
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER w
          / CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER t AS DOUBLE)
        - SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER w
          / CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER t AS DOUBLE)
      ) AS dd
      FROM long
      WINDOW
        w AS (PARTITION BY feature ORDER BY value
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        t AS (PARTITION BY feature)
    )
    SELECT feature, ROUND(MAX(dd), 6) AS ks_stat FROM c GROUP BY feature
    """,
)
def q53_ks_by_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 at scale: KS drift for FOUR features in one pass — cumulative-CDF
    windows partitioned by feature (no global sort; see operators/drift.
    ks_by_feature). Populations: returned vs non-returned lineitems."""
    from streaming_feature_store_spark.operators.drift import ks_by_feature

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "grp", F.col("l_returnflag") == "R"
    )
    return ks_by_feature(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], "grp"
    )


# ---------------------------------------------------------------------------
# Drift DECISIONS (M10/M11/M13 verdicts) — closed-form p-values so DuckDB
# recomputes the full decision chain, not just the statistic
# ---------------------------------------------------------------------------

# Asymptotic two-sample KS p-value, 3-term Kolmogorov series (see
# operators/drift._ks_pvalue). {d}/{n1}/{n2} are SQL expressions.
_KS_P_SQL = (
    "LEAST(1.0, GREATEST(0.0, 2.0 * ("
    "exp(-2.0 * ({d})*({d}) * ({n1})*({n2})/CAST(({n1})+({n2}) AS DOUBLE))"
    " - exp(-8.0 * ({d})*({d}) * ({n1})*({n2})/CAST(({n1})+({n2}) AS DOUBLE))"
    " + exp(-18.0 * ({d})*({d}) * ({n1})*({n2})/CAST(({n1})+({n2}) AS DOUBLE)))))"
)

_P54 = _KS_P_SQL.format(d="ks", n1="n1", n2="n2")


@query(
    "q54_ks_drift_report",
    sql=f"""
    WITH long AS (
      SELECT 'l_quantity' AS feature, l_quantity AS value,
             l_returnflag = 'R' AS grp FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice, l_returnflag = 'R' FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount, l_returnflag = 'R' FROM lineitem
      UNION ALL
      SELECT 'l_tax', l_tax, l_returnflag = 'R' FROM lineitem
    ), c AS (
      SELECT feature, ABS(
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER w
          / CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER t AS DOUBLE)
        - SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER w
          / CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER t AS DOUBLE)
      ) AS dd,
      SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER t AS n1g,
      SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER t AS n2g
      FROM long
      WINDOW
        w AS (PARTITION BY feature ORDER BY value
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        t AS (PARTITION BY feature)
    ), s AS (
      SELECT feature, MAX(dd) AS ks, MAX(n1g) AS n1, MAX(n2g) AS n2
      FROM c GROUP BY feature
    )
    SELECT feature,
      ROUND(ks, 6) AS ks_stat,
      ROUND({_P54}, 6) AS p_value,
      {_P54} < 0.05 AS is_drifted,
      CASE WHEN {_P54} >= 0.05 THEN 'none'
           WHEN {_P54} >= 0.005 THEN 'low'
           WHEN {_P54} >= 0.0005 THEN 'medium'
           ELSE 'high' END AS severity
    FROM s
    """,
)
def q54_ks_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 verdicts: per-feature KS statistic + asymptotic p-value +
    is_drifted + severity ladder in one partitioned-CDF pass
    (drift_check.py:50-136 + :126-135), features in parallel."""
    from streaming_feature_store_spark.operators.drift import ks_drift_report

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "grp", F.col("l_returnflag") == "R"
    )
    return ks_drift_report(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], "grp"
    )


_P55 = _KS_P_SQL.format(d="ksd", n1="nr", n2="nh")


@query(
    "q55_prediction_drift",
    sql=f"""
    WITH scores AS (
      SELECT value / (value + 50.0) AS score,
             ts >= TIMESTAMP '2024-01-16 00:00:00' AS grp
      FROM events
    ), b AS (
      SELECT CAST(LEAST(9, GREATEST(0, FLOOR(score * 10))) AS INTEGER) AS bucket, grp
      FROM scores
    ), c AS (
      SELECT bucket,
        SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS ne,
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS na
      FROM b GROUP BY bucket
    ), t AS (SELECT SUM(ne) AS te, SUM(na) AS ta FROM c),
    psi_v AS (
      SELECT SUM(
        ((na / CAST(ta AS DOUBLE) + 1e-6) - (ne / CAST(te AS DOUBLE) + 1e-6))
        * ln((na / CAST(ta AS DOUBLE) + 1e-6) / (ne / CAST(te AS DOUBLE) + 1e-6))
      ) AS psi
      FROM c CROSS JOIN t
    ), cdf AS (
      SELECT ABS(
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER w
          / CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) OVER () AS DOUBLE)
        - SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER w
          / CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) OVER () AS DOUBLE)
      ) AS dd
      FROM scores
      WINDOW w AS (ORDER BY score RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), ks_v AS (
      SELECT MAX(dd) AS ksd FROM cdf
    ), m AS (
      SELECT CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS nh,
             AVG(CASE WHEN grp THEN score END) AS rmean,
             AVG(CASE WHEN NOT grp THEN score END) AS hmean
      FROM scores
    )
    SELECT
      ROUND(psi, 6) AS psi_score,
      CASE WHEN psi < 0.1 THEN 'no_shift'
           WHEN psi < 0.2 THEN 'minor_shift'
           ELSE 'major_shift' END AS psi_interpretation,
      ROUND(ksd, 6) AS ks_statistic,
      ROUND({_P55}, 6) AS ks_p_value,
      nr AS recent_samples,
      nh AS historical_samples,
      ROUND(rmean, 6) AS recent_mean,
      ROUND(hmean, 6) AS historical_mean,
      psi > 0.2 OR {_P55} < 0.05 AS drift_detected
    FROM psi_v CROSS JOIN ks_v CROSS JOIN m
    """,
)
def q55_prediction_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13: the prediction-drift monitor — PSI over score deciles with the
    reference's 0.1/0.2 interpretation ladder, KS + p-value, combined
    drift_detected verdict (drift_check.py:171-209). Scores synthesized
    from event values via the bounded map v/(v+50) ∈ [0,1); populations =
    first/second half of the stream."""
    from streaming_feature_store_spark.operators.drift import prediction_drift

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") / (F.col("value") + 50.0)).alias("score"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "grp"
        ),
    )
    return prediction_drift(ev, "score", "grp")


@query(
    "q56_ks_binned",
    sql="""
    WITH src AS (
      SELECT l_extendedprice AS v, l_returnflag = 'R' AS grp FROM lineitem
    ), mm AS (
      SELECT MIN(v) AS lo, MAX(v) AS hi FROM src
    ), binned AS (
      SELECT CAST(LEAST(FLOOR((v - lo) / ((hi - lo) / 10000.0)), 9999) AS BIGINT)
               AS bin, grp
      FROM src CROSS JOIN mm
    ), c AS (
      SELECT bin,
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS c1,
        SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS c2
      FROM binned GROUP BY bin
    ), cdf AS (
      SELECT ABS(
        SUM(c1) OVER w / CAST(SUM(c1) OVER () AS DOUBLE)
        - SUM(c2) OVER w / CAST(SUM(c2) OVER () AS DOUBLE)
      ) AS dd
      FROM c
      WINDOW w AS (ORDER BY bin RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT ROUND(MAX(dd), 6) AS ks_stat FROM cdf
    """,
)
def q56_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 scale path: pre-binned two-sample KS — fixed-width bins from an
    exact min/max pass, CDFs over ≤10k grouped bin counts. No global row
    sort anywhere (the scan is a map-side grouped count), so this is the
    form that replaces ks_statistic's single-partition sort at 100×."""
    from streaming_feature_store_spark.operators.drift import ks_binned

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_returnflag") == "R").alias("grp"),
    )
    return ks_binned(li, "v", "grp", n_bins=10_000)


# ---------------------------------------------------------------------------
# Embedding dedup + IVF ANN — beyond-reference (training-data pipeline)
# ---------------------------------------------------------------------------

# Corpus with planted near-duplicate twins: vec_id+1000000 carries the base
# vector with each component scaled by 1 + ((vec_id*31 + i*7) % 11 - 5)/100
# (cosine ≈ 0.9995 to its base; the background pair distribution tops out
# ≈ 0.52, so threshold 0.99 separates exactly). The same construction as
# q41's, so the DuckDB side can rebuild the identical corpus.
_TWIN_SQL = """
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), twin AS (
      SELECT vec_id + 1000000 AS vec_id,
        [v[i] * (1 + ((vec_id*31 + (i-1)*7) % 11 - 5)/100.0)
         for i in generate_series(1, len(v))] AS v
      FROM e
    ), corpus AS (
      SELECT * FROM e UNION ALL SELECT * FROM twin
    )
"""


def _twin_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_feature_store_spark.operators.similarity import as_double_vec

    base = as_double_vec(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    twin = base.withColumnRenamed("vec_id", "orig_id").select(
        (F.col("orig_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x
            * (1 + ((F.col("orig_id") * 31 + i * 7) % 11 - 5) / F.lit(100.0)),
        ).alias("embedding"),
    )
    return base.unionByName(twin)


@query(
    "q57_embedding_near_dups",
    sql=f"""
    WITH {_TWIN_SQL}
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6) AS cosine
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= 0.99
    """,
)
def q57_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection (dedup family's embedding
    member): sign-LSH banded candidates, exact-cosine verification, over a
    corpus with planted twins. The DuckDB oracle is the full quadratic
    exact join — every pair the LSH path returns must carry its true
    cosine AND the pair sets must be identical (recall 1.0 at this
    separation; see embedding_near_dups docstring for the probability
    budget)."""
    from streaming_feature_store_spark.operators.similarity import (
        embedding_near_dups,
    )

    return embedding_near_dups(
        _twin_corpus(spark, sf_dir), dim=64, threshold=0.99
    ).orderBy("vec_id_a")


@query(
    "q58_ivf_topk",
    sql=f"""
    WITH {_TWIN_SQL}, q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
    ), scored AS (
      SELECT query_id, c.vec_id AS nbr_id,
        ROUND(list_dot_product(c.v, qv)
              / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qv, qv))),
              6) AS cosine
      FROM corpus c CROSS JOIN q
      WHERE c.vec_id <> query_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= 1
    """,
)
def q58_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN over the planted-twin corpus, k=1: each query's true
    nearest neighbor is its twin (cosine ≈ 0.9995), so the exact top-1 the
    DuckDB oracle computes is reachable iff IVF probes the twin's cell —
    nearly-collinear vectors share an argmax cell, so nprobe=4 retrieves it
    deterministically (measured at sf0.01/sf0.1). Returned cosines are
    exact (IVF proposes, exact verification scores), mirroring q41's
    oracle construction for the LSH path."""
    from streaming_feature_store_spark.operators.similarity import ivf_topk

    corpus = _twin_corpus(spark, sf_dir)
    return ivf_topk(
        corpus,
        corpus.filter(F.col("vec_id") < 10),
        dim=64,
        k=1,
        nlist=16,
        nprobe=4,
    )


@query(
    "q59_winnow_fingerprints",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS w,
             generate_subscripts(string_split(text,' '),1) AS pos
      FROM documents
    ), grams AS (
      SELECT doc_id, pos,
        md5(w || ' ' || lead(w,1) OVER dw || ' ' || lead(w,2) OVER dw) AS g
      FROM toks WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(w,2) OVER dw IS NOT NULL
    ), wmin AS (
      SELECT doc_id, pos,
        MIN(g) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
      FROM grams
    ), fps AS (
      SELECT DISTINCT doc_id, sel FROM wmin WHERE pos <= maxpos - 3
    )
    SELECT doc_id, COUNT(*) AS n_fp, MIN(sel) AS min_fp,
           md5(string_agg(sel, ',' ORDER BY sel)) AS fp_digest
    FROM fps GROUP BY doc_id
    """,
)
def q59_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (k=3 token grams, window 4) per
    document — the text-analysis family's containment-robust fingerprint
    (see operators/text.winnow_fingerprints for the guarantee)."""
    from streaming_feature_store_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=3, w=4
    )


@query(
    "q60_dedup_survivors",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), drops AS (
      SELECT DISTINCT doc_b AS doc_id FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d LEFT JOIN drops USING (doc_id)
    WHERE drops.doc_id IS NULL
    """,
)
def q60_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy near-dup removal over the documents table (keep the lowest-id
    representative of every Jaccard-≥0.5 pair) — the write-back step of the
    dedup family."""
    from streaming_feature_store_spark.operators.dedup import dedup_survivors

    return dedup_survivors(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q61_curated_corpus",
    sql=f"""
    WITH uniq AS (
      SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS _rn
        FROM documents
      ) WHERE _rn = 1
    ), tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM uniq
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), drops AS (
      SELECT DISTINCT doc_b AS doc_id FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
    )
    SELECT u.doc_id, u.lang, u.source, u.n_chars,
      CAST(len(string_split(u.text, ' ')) AS INTEGER) AS n_tokens
    FROM uniq u LEFT JOIN drops USING (doc_id)
    WHERE drops.doc_id IS NULL
      AND len(string_split(u.text, ' ')) BETWEEN 10 AND 1000
      AND len(list_filter(string_split(u.text, ' '), x -> x = 'the' OR x = 'a'))
          / CAST(len(string_split(u.text, ' ')) AS DOUBLE) < 0.5
    """,
)
def q61_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline over documents (exact dedup → Jaccard
    near-dup removal → token/stopword quality gate) as ONE composed query —
    what a training-data run executes end to end (operators/curation.py)."""
    from streaming_feature_store_spark.operators.curation import curate_documents

    return curate_documents(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "n_chars", "n_tokens"
    )


_GRAMS8_SQL = """
      list_distinct(CASE WHEN len(l) >= 8
        THEN list_transform(generate_series(1, len(l) - 7),
          j -> l[j] || ' ' || l[j+1] || ' ' || l[j+2] || ' ' || l[j+3] || ' '
            || l[j+4] || ' ' || l[j+5] || ' ' || l[j+6] || ' ' || l[j+7])
        ELSE CAST([] AS VARCHAR[]) END)
"""


@query(
    "q62_decontamination",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), g AS (
      SELECT doc_id, unnest({_GRAMS8_SQL}) AS s FROM tok
    ), tr AS (
      SELECT DISTINCT s FROM g WHERE doc_id % 5 != 0
    ), ev AS (
      SELECT doc_id, s FROM g WHERE doc_id % 5 = 0
    ), sizes AS (
      SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1
    ), hits AS (
      SELECT ev.doc_id, count(*) AS n_shared FROM ev JOIN tr USING (s)
      GROUP BY 1
    )
    SELECT d.doc_id, d.source,
      CAST(COALESCE(sizes.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(COALESCE(hits.n_shared, 0) AS BIGINT) AS n_shared_grams,
      CASE WHEN COALESCE(sizes.n_grams, 0) > 0
           THEN ROUND(COALESCE(hits.n_shared, 0)
                      / CAST(sizes.n_grams AS DOUBLE), 6)
           ELSE 0.0 END AS containment,
      (CASE WHEN COALESCE(sizes.n_grams, 0) > 0
            THEN ROUND(COALESCE(hits.n_shared, 0)
                       / CAST(sizes.n_grams AS DOUBLE), 6)
            ELSE 0.0 END) > 0.0 AS is_contaminated
    FROM documents d
    LEFT JOIN sizes ON d.doc_id = sizes.doc_id
    LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % 5 = 0
    """,
)
def q62_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3-style long-n-gram collision against
    the training corpus, generalized to a containment score): every 5th
    document plays the eval set, the rest the training corpus."""
    from streaming_feature_store_spark.operators.curation import decontaminate

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    return decontaminate(train, ev, n=8).select(
        "doc_id",
        "source",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
        "containment",
        "is_contaminated",
    )


@query(
    "q63_repetition_stats",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), counts AS (
      SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        ROUND(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_token_frac
      FROM counts GROUP BY 1
    ), gr AS (
      SELECT doc_id,
        CASE WHEN len(l) >= 3
          THEN ROUND(1 - len(list_distinct(list_transform(
                 generate_series(1, len(l) - 2),
                 j -> l[j] || ' ' || l[j+1] || ' ' || l[j+2])))
               / CAST(len(l) - 2 AS DOUBLE), 6)
          ELSE 0.0 END AS dup_3gram_frac
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    )
    SELECT top.doc_id, n_tokens, top_token_frac, dup_3gram_frac,
      (top_token_frac > 0.30 OR dup_3gram_frac > 0.50) AS is_repetitive
    FROM top JOIN gr USING (doc_id)
    """,
)
def q63_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition signals (top-token share, duplicate-3-gram
    mass) over every document."""
    from streaming_feature_store_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "top_token_frac", "dup_3gram_frac", "is_repetitive"
    )


@query(
    "q64_corpus_mixture",
    sql="""
    SELECT source, CAST(count(*) AS BIGINT) AS n_sampled
    FROM documents
    WHERE (source = 'src0'
           AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'g')
       OR (source = 'src1'
           AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
       OR (source = 'src2'
           AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000')
       OR (source NOT IN ('src0', 'src1', 'src2')
           AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000')
    GROUP BY source
    """,
)
def q64_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling (keep src0 whole, halve
    src1, quarter src2, 75 % everything else) — per-source surviving
    counts. Thresholds are md5-hex string compares, identical in both
    engines."""
    from streaming_feature_store_spark.operators.curation import sample_corpus

    sampled = sample_corpus(
        _t(spark, sf_dir, "documents"),
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.75,
    )
    return sampled.groupBy("source").agg(F.count("*").alias("n_sampled"))


@query(
    "q65_chunked_documents",
    sql="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), st AS (
      SELECT doc_id, l, unnest(range(0, len(l), 24)) AS s FROM tok
    )
    SELECT doc_id, CAST(s // 24 AS INT) AS chunk_idx,
      array_to_string(l[s+1:s+32], ' ') AS chunk_text,
      CAST(len(l[s+1:s+32]) AS INT) AS n_chunk_tokens
    FROM st
    """,
)
def q65_chunked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token windows on a 24-token stride
    (8-token overlap) over every document — the sequence-model training
    prep step."""
    from streaming_feature_store_spark.operators.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=32, stride=24
    ).select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")


@query(
    "q66_pii_redaction",
    sql="""
    WITH planted AS (
      SELECT doc_id, source,
        text
        || CASE WHEN doc_id % 3 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
             ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END
        || CASE WHEN doc_id % 7 = 0
             THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
             ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id, source,
      CAST(len(regexp_extract_all(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      CAST(len(regexp_extract_all(t,
        '\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}')) AS INT) AS n_phones,
      CAST(len(regexp_extract_all(t,
        '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INT) AS n_ips,
      md5(regexp_replace(regexp_replace(regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'),
        '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'))
        AS clean_md5
    FROM planted
    """,
)
def q66_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII gate over the corpus: detect + redact emails / phones / IPv4s.
    The synthetic corpus contains no PII, so the query plants deterministic
    PII (keyed on doc_id, identically in both engines) before the gate —
    the oracle then checks real detections and byte-exact redacted text
    (via md5). Detection and redaction are pure codegen regex — no
    shuffle, no Python."""
    from streaming_feature_store_spark.operators.text import pii_stats, redact_pii

    d = F.col("doc_id")
    planted = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.concat(
                F.col("text"),
                F.when(
                    d % 3 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        d.cast("string"),
                        F.lit("@example.com"),
                    ),
                ).otherwise(F.lit("")),
                F.when(d % 5 == 0, F.lit(" call 555-123-4567")).otherwise(
                    F.lit("")
                ),
                F.when(
                    d % 7 == 0,
                    F.concat(
                        F.lit(" from 10.0."),
                        (d % 256).cast("string"),
                        F.lit(".1"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    out = redact_pii(pii_stats(planted))
    return out.select(
        "doc_id",
        "source",
        F.col("n_emails").cast("int").alias("n_emails"),
        F.col("n_phones").cast("int").alias("n_phones"),
        F.col("n_ips").cast("int").alias("n_ips"),
        F.md5(F.col("text")).alias("clean_md5"),
    )


@query(
    "q67_dedup_clusters",
    sql=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q67_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: exact connected components over the Jaccard pair
    graph (min-label propagation + pointer jumping, O(log diameter)
    shuffle rounds). The oracle computes the same fixpoint via a recursive
    CTE — transitive closure to the minimum reachable id."""
    from streaming_feature_store_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
    )

    pairs = jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5).filter(
        F.col("jaccard") >= 0.5
    )
    return dedup_clusters(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@query(
    "q68_quality_funnel",
    sql="""
    WITH t AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS l FROM documents
    ), sig AS (
      SELECT doc_id, source,
        len(l) AS n_tokens,
        len(list_filter(l, x -> x = 'the' OR x = 'a'))
          / CAST(len(l) AS DOUBLE) AS sw_ratio,
        (SELECT max(c) FROM (
           SELECT count(*) AS c FROM unnest(l) AS u(w) GROUP BY w)) AS top_c,
        CASE WHEN len(l) >= 3
          THEN 1 - len(list_distinct(list_transform(
                 generate_series(1, len(l) - 2),
                 j -> l[j] || ' ' || l[j+1] || ' ' || l[j+2])))
               / CAST(len(l) - 2 AS DOUBLE)
          ELSE 0.0 END AS dup3,
        doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_rep_doc
      FROM t
    ), gates AS (
      -- ratios ROUNDed to 6 dp before thresholding, mirroring the Spark
      -- side exactly: the gates consume the operator's public rounded
      -- signal columns (text.quality_features / repetition_stats), so the
      -- oracle must threshold the same rounded values
      SELECT source,
        (n_tokens >= 10 AND n_tokens <= 1000) AS g1,
        (n_tokens >= 10 AND n_tokens <= 1000
          AND ROUND(sw_ratio, 6) < 0.5) AS g2,
        (n_tokens >= 10 AND n_tokens <= 1000
          AND ROUND(sw_ratio, 6) < 0.5
          AND NOT (ROUND(top_c / CAST(n_tokens AS DOUBLE), 6) > 0.30
                   OR ROUND(dup3, 6) > 0.50)) AS g3,
        is_rep_doc
      FROM sig
    )
    SELECT source,
      COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
      CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
      CAST(SUM(CASE WHEN g3 AND is_rep_doc THEN 1 ELSE 0 END) AS BIGINT)
        AS n_survivors
    FROM gates GROUP BY source
    """,
)
def q68_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel: documents surviving each successive
    gate (length window → stopword ratio → Gopher repetition cuts →
    exact-dup representative). One conditional aggregation over three
    id-keyed signal branches."""
    from streaming_feature_store_spark.operators.curation import quality_funnel

    return quality_funnel(_t(spark, sf_dir, "documents"))


@query(
    "q69_cluster_balanced_sample",
    sql="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
      -- lowest-8 ids via ROW_NUMBER, mirroring the Spark side's
      -- orderBy(vec_id).limit(8) exactly (robust to non-contiguous ids)
      SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cc
      FROM (SELECT vec_id, v,
              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
      WHERE rn <= 8
    ), scored AS (
      SELECT e.vec_id, centroid_id,
        ROUND(list_dot_product(e.v, e.v)
              - 2 * list_dot_product(e.v, cv) + cc, 6) AS dist2
      FROM e CROSS JOIN c
    ), assigned AS (
      SELECT vec_id, centroid_id AS cluster_id, dist2,
        ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist2, centroid_id) AS rk
      FROM scored
    ), samp AS (
      SELECT vec_id, cluster_id, dist2,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY cluster_id
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS samp_rank
      FROM assigned WHERE rk = 1
    )
    SELECT vec_id, cluster_id, dist2, samp_rank FROM samp WHERE samp_rank <= 20
    """,
)
def q69_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced sampling over the embedding corpus: nearest-
    centroid assignment (8 deterministic seed centroids) + a stable
    per-cluster quota of 20 — the embedding-space analog of per-source
    mixture sampling."""
    from streaming_feature_store_spark.operators.curation import (
        cluster_balanced_sample,
    )

    return cluster_balanced_sample(
        _t(spark, sf_dir, "embeddings"), k=8, per_cluster=20
    )


@query(
    "q70_late_shipment_priority",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q70_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → left-semi join): orders with at least one
    line item shipped more than 60 days after the order date, counted by
    priority. The semi join carries the non-equi ship-lag predicate
    alongside the order-key equi condition; only (key, date) columns flow
    from the fact table."""
    o = _t(spark, sf_dir, "orders")
    late = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        late,
        (o["o_orderkey"] == late["l_orderkey"])
        & (
            late["l_shipdate"]
            > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@query(
    "q71_parts_never_bulk_shipped",
    sql="""
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_partkey = p_partkey AND l_quantity > 45)
    GROUP BY p_brand
    """,
)
def q71_parts_never_bulk_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join: parts that never shipped in a bulk
    (quantity > 45) line item, counted by brand. The quantity filter is
    pushed below the anti join so the distinct-key build side is small."""
    p = _t(spark, sf_dir, "part")
    bulk = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_partkey")
    )
    anti = p.join(bulk, p["p_partkey"] == bulk["l_partkey"], "left_anti")
    return anti.groupBy("p_brand").agg(F.count("*").alias("n_parts"))


@query(
    "q72_winnow_containment_pairs",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS w,
             generate_subscripts(string_split(text,' '),1) AS pos
      FROM documents
    ), grams AS (
      SELECT doc_id, pos,
        md5(w || ' ' || lead(w,1) OVER dw || ' ' || lead(w,2) OVER dw) AS g
      FROM toks WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(w,2) OVER dw IS NOT NULL
    ), wmin AS (
      SELECT doc_id, pos,
        MIN(g) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
      FROM grams
    ), fps AS (
      SELECT DISTINCT doc_id, sel FROM wmin WHERE pos <= maxpos - 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM fps a JOIN fps b ON a.sel = b.sel AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
      ROUND(n_shared / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE), 6)
        AS containment
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_shared / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.5
    """,
)
def q72_winnow_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs via shared winnowing fingerprints
    (containment = shared / min set size) — catches a long shared passage
    inside otherwise-different documents, which whole-document Jaccard
    dilutes."""
    from streaming_feature_store_spark.operators.text import (
        winnow_containment_pairs,
    )

    return winnow_containment_pairs(
        _t(spark, sf_dir, "documents"), k=3, w=4, threshold=0.5
    )


@query(
    "q73_small_quantity_revenue",
    sql=f"""
    WITH cut AS (
      SELECT l_partkey,
        0.2 * ({_DSUM.format(c='l_quantity')} / COUNT(*)) AS cutoff
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {_DSUM.format(c='l_extendedprice')} AS small_qty_revenue,
      COUNT(*) AS n_lines
    FROM lineitem l JOIN cut ON l.l_partkey = cut.l_partkey
    WHERE l.l_quantity < cut.cutoff
    """,
)
def q73_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery → pre-aggregated join):
    revenue from line items below 20 % of their part's average quantity.
    The per-part average uses decimal-exact summation so the threshold
    comparison is bit-identical across engines."""
    from streaming_feature_store_spark.functions.exprs import dsum

    li = _t(spark, sf_dir, "lineitem")
    cut = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * (dsum("l_quantity") / F.count("*"))).alias("cutoff")
    )
    return (
        li.join(cut, "l_partkey")
        .filter(F.col("l_quantity") < F.col("cutoff"))
        .agg(
            dsum("l_extendedprice").alias("small_qty_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q74_latest_features_per_user",
    sql="""
    SELECT user_id, event_id AS last_event_id, us AS last_us,
      value AS last_value, event_type AS last_event_type
    FROM (
      SELECT user_id, event_id, epoch_us(ts) AS us, value, event_type,
        ROW_NUMBER() OVER (
          PARTITION BY user_id
          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q74_latest_features_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store serving read: newest row per entity (the batch
    twin of the latest-view sink's merge rule — ts desc, unique id desc
    tiebreak)."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("us").alias("last_us"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
    )


@query(
    "q75_cube_revenue",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
      {_DSUM.format(c='l_extendedprice')} AS revenue,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q75_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 2^k dimension subsets in one Expand +
    shuffle) — completes the grouping-sets family next to q49's ROLLUP."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("revenue"), F.count("*").alias("n")
    )


@query(
    "q76_nation_trade_flows",
    sql=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS volume,
      COUNT(*) AS n_lines
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name < sn.n_name
    GROUP BY cn.n_name, sn.n_name
    """,
)
def q76_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: five-way join threading the fact table through two
    different dimension paths (customer-nation and supplier-nation, the
    nation dim joined twice under distinct aliases), with a cross-path
    inequality. True dims (nation ×2, supplier) are explicit broadcasts;
    lineitem ⋈ orders is fact-fact (left to AQE — shuffle join at scale)
    and customer sits between (AQE broadcasts it while it fits)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
    )
    return j.groupBy("cust_nation", "supp_nation").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "volume"
        ),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Round 3 additions: operator mechanisms not yet in the catalog — pivot,
# correlated scalar subquery, cohort retention, set difference
# ---------------------------------------------------------------------------


@query(
    "q77_event_type_hour_pivot",
    sql="""
    SELECT event_type,
      CAST(SUM(CASE WHEN h BETWEEN 0 AND 5  THEN 1 ELSE 0 END) AS BIGINT) AS night,
      CAST(SUM(CASE WHEN h BETWEEN 6 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS morning,
      CAST(SUM(CASE WHEN h BETWEEN 12 AND 17 THEN 1 ELSE 0 END) AS BIGINT) AS afternoon,
      CAST(SUM(CASE WHEN h BETWEEN 18 AND 23 THEN 1 ELSE 0 END) AS BIGINT) AS evening
    FROM (SELECT event_type, EXTRACT(hour FROM ts) AS h FROM events)
    GROUP BY event_type
    """,
)
def q77_event_type_hour_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's PIVOT operator (groupBy().pivot().count()) over a derived
    day-part column — the relational crosstab the reference builds by hand
    for its confusion matrix (fraud_detector.py:184-205 keeps 4 counters;
    A18). Pivot values are DECLARED, which keeps the plan a single
    hash-aggregation (no distinct-values pre-scan job) — the form that
    survives wide category sets at scale. Oracle: conditional aggregation
    (what the pivot compiles to)."""
    ev = _t(spark, sf_dir, "events")
    part = (
        F.when(F.hour("ts") <= 5, "night")
        .when(F.hour("ts") <= 11, "morning")
        .when(F.hour("ts") <= 17, "afternoon")
        .otherwise("evening")
    )
    return (
        ev.withColumn("day_part", part)
        .groupBy("event_type")
        .pivot("day_part", ["night", "morning", "afternoon", "evening"])
        .count()
        .na.fill(0, ["night", "morning", "afternoon", "evening"])
    )


@query(
    "q78_solely_late_suppliers",
    sql="""
    SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q78_solely_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the compound EXISTS + NOT EXISTS correlation on
    the same fact table (adapted to this schema's ship-lag lateness, as in
    q70): suppliers who were the ONLY late supplier on a multi-supplier
    order, counted by distinct waiting orders.

    Expressed decorrelated — both correlated predicates collapse into
    per-order window aggregates (distinct suppliers, distinct LATE
    suppliers via collect_set over the order partition), so the fact table
    is scanned ONCE and shuffled ONCE on the order key — no second
    shuffle to join a grouped-stats side back (countDistinct is not
    window-able, size(collect_set) is). The EXISTS becomes ``n_supp > 1``
    and the NOT EXISTS becomes ``n_late_supp = 1`` (the late row itself is
    the one allowed late supplier). The oracle keeps the textbook
    correlated form so the cross-check derives the same answer through a
    different plan. Supplier dim is broadcast."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    wo = Window.partitionBy("l_orderkey")
    blamed = (
        j.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(wo)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(wo)
            ),
        )
        .filter(
            F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        blamed.join(s, blamed["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


@query(
    "q79_weekly_retention",
    sql="""
    WITH firsts AS (
      SELECT user_id,
        CAST(FLOOR(EXTRACT(epoch FROM MIN(ts)) / 604800) AS BIGINT) AS cohort_w
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id,
        CAST(FLOOR(EXTRACT(epoch FROM ts) / 604800) AS BIGINT) AS active_w
      FROM events
    )
    SELECT cohort_w, CAST(active_w - cohort_w AS BIGINT) AS week_offset,
      COUNT(*) AS n_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY cohort_w, week_offset
    """,
)
def q79_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the training-data-pipeline report shape (cohort =
    first-activity week, count distinct users active at each week offset).
    ONE scan: map-side distinct of (user, week) first (the big reduction —
    events collapse to user-weeks), then the per-user first week as a MIN
    window over the distinct rows (no self-join back), then the tiny
    cohort×offset count. The fact is read once and every shuffle after the
    distinct carries user-week rows, not events."""
    ev = _t(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    activity = ev.select("user_id", week.alias("active_w")).distinct()
    cohort = F.min("active_w").over(Window.partitionBy("user_id"))
    return (
        activity.withColumn("cohort_w", cohort)
        .groupBy(
            "cohort_w",
            (F.col("active_w") - F.col("cohort_w")).cast("long").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q80_churned_purchasers",
    sql="""
    SELECT user_id FROM events
    WHERE event_type = 'purchase'
      AND ts < (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)
    EXCEPT
    SELECT user_id FROM events
    WHERE ts >= (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)
    """,
)
def q80_churned_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (SQL EXCEPT ≡ DataFrame ``subtract``: distinct
    left-anti hash join — NOT ``exceptAll``, whose multiset semantics would
    let a user purchasing 3× before the cutoff and active once after
    survive the subtraction): users who purchased during the window but
    were never seen in its final day. Both sides project only user_id, so
    the shuffle carries 8-byte keys; the cutoff is a scalar computed once
    and folded into both predicates."""
    import datetime as _dt

    ev = _t(spark, sf_dir, "events")
    hi = ev.agg(F.max("ts")).first()[0]
    cutoff = hi - _dt.timedelta(days=1)
    purchasers = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("ts") < F.lit(cutoff))
        ).select("user_id")
    )
    last_day_active = ev.filter(F.col("ts") >= F.lit(cutoff)).select("user_id")
    return purchasers.subtract(last_day_active)


@query(
    "q81_approx_percentiles",
    sql="""
    SELECT COUNT(*) AS n_rows,
      ROUND(quantile_cont(value, 0.5), 4) AS p50,
      ROUND(quantile_cont(value, 0.9), 4) AS p90,
      ROUND(quantile_cont(value, 0.99), 4) AS p99,
      TRUE AS rank_ok_p50, TRUE AS rank_ok_p90, TRUE AS rank_ok_p99
    FROM events
    """,
)
def q81_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch scale path with a bound-checked oracle (the q45
    pattern applied to percentiles): ``approx_percentile`` (Greenwald-
    Khanna style sketch, mergeable across partitions — the 100 TB
    substitute for the exact sort) alongside the exact interpolated
    percentiles. A sketch value is engine-specific, so what the oracle
    checks is its RANK GUARANTEE: the fraction of rows ≤ the approx value
    must sit within ε of the target quantile (accuracy 200 ⇒ ε = 1/200,
    asserted with a 2ε margin). A red row means the sketch broke its
    contract; the exact percentiles cross-check as ordinary values."""
    ev = _t(spark, sf_dir, "events").select("value")
    sk = ev.agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 200).alias("ap")
    )
    j = ev.crossJoin(F.broadcast(sk))
    eps = 2.0 / 200
    rank_of = [
        (
            F.sum((F.col("value") <= F.col("ap")[i]).cast("long"))
            / F.count("*").cast("double")
        )
        for i in range(3)
    ]
    return j.agg(
        F.count("*").alias("n_rows"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        ((rank_of[0] - 0.5).between(-eps, eps)).alias("rank_ok_p50"),
        ((rank_of[1] - 0.9).between(-eps, eps)).alias("rank_ok_p90"),
        ((rank_of[2] - 0.99).between(-eps, eps + 0.01)).alias("rank_ok_p99"),
    )


@query(
    "q82_json_props_stats",
    sql="""
    SELECT event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
           AS BIGINT) AS k_sum,
      CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
               THEN 1 ELSE 0 END) AS BIGINT) AS k_high,
      CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS k_missing
    FROM events GROUP BY event_type
    """,
)
def q82_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction (the S5 JSON-decode surface in
    batch form, reference: flink feature_job.py:72-105 parses JSON event
    payloads): ``get_json_object`` path extraction stays inside codegen —
    no UDF, no schema inference pass — then ordinary conditional
    aggregation per event type. Null-path rows are counted, not dropped
    (the DLQ-side discipline applied to a scalar column)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("k_sum"),
        F.sum(F.when(k >= 50, 1).otherwise(0)).cast("long").alias("k_high"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).cast("long").alias("k_missing"),
    )


# ---------------------------------------------------------------------------
# Round-3 additions: remaining TPC-H decision-support shapes + corpus/
# embedding analytics (SURVEY §2.3-§2.4 breadth; BASELINE north star)
# ---------------------------------------------------------------------------


@query(
    "q83_inactive_high_balance",
    sql="""
    WITH ab AS (
      SELECT SUM(c_acctbal) / COUNT(*) AS thr FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM customer, ab
    WHERE c_acctbal > thr
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-08-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q83_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance and NO
    orders in the dataset's final year (this testdata gives every customer
    at least one lifetime order, so the spec's "no orders ever" predicate
    is recency-scoped to keep the shape non-vacuous — 14 rows at sf0.001).
    The global scalar (avg positive balance) is computed once driver-side
    and folded into the filter as a literal — a one-row broadcast, not a
    per-row subquery. The NOT EXISTS becomes a left-anti hash join against
    orders date-filtered AT THE SCAN and projected to its 8-byte key; the
    anti-join runs on the already-filtered customer side (above-threshold
    rows only). At 100 TB: anti-join shuffles on o_custkey; AQE flips it to
    broadcast when the recent-orders side is small."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    thr = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg((F.sum("c_acctbal") / F.count("*")).alias("t"))
        .first()[0]
    )
    rich = cust.filter(F.col("c_acctbal") > F.lit(thr))
    recent = orders.filter(F.col("o_orderdate") >= "2000-08-01").select(
        F.col("o_custkey").alias("c_custkey")
    )
    inactive = rich.join(recent, on="c_custkey", how="left_anti")
    return inactive.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_cust"),
        dsum("c_acctbal").alias("total_bal"),
    )


@query(
    "q84_order_count_distribution",
    sql="""
    SELECT c_count, COUNT(*) AS n_customers FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) t GROUP BY c_count
    """,
)
def q84_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer INCLUDING
    zero-order customers. The literal SQL left-joins the raw fact then
    groups twice; here orders are pre-aggregated to (custkey, count) BEFORE
    touching customer — the join input shrinks from |orders| rows to
    |customers-with-orders| rows, and the left join + coalesce(0) restores
    the zero class. One fact shuffle (the pre-agg), one small join, one
    tiny histogram agg. At 100 TB the pre-agg is the only wide exchange."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count("*").alias("n_orders")
    )
    counted = (
        cust.select("c_custkey")
        .join(per_cust, on="c_custkey", how="left")
        .select(F.coalesce("n_orders", F.lit(0)).alias("c_count"))
    )
    return counted.groupBy("c_count").agg(F.count("*").alias("n_customers"))


@query(
    "q85_brand_revenue_share",
    sql=f"""
    WITH r AS (
      SELECT p_brand,
        {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    ), t AS (
      SELECT CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS tot FROM r
    )
    SELECT p_brand, ROUND(rev, 4) AS revenue, ROUND(rev / tot, 6) AS share
    FROM r, t WHERE rev / tot > 0.042
    """,
)
def q85_brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: brand revenue filtered by share of GLOBAL revenue
    (HAVING against a scalar over the same aggregate). The per-brand agg
    runs once; the global total is the one-row re-aggregate of that tiny
    result, cross-joined back as a broadcast literal — the fact is scanned
    and shuffled exactly once. Part joins without a static hint (it
    scales with sf; AQE promotes to broadcast at runtime). Shares are
    derived from decimal-exact sums so the 0.042 threshold cuts identically
    in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    r = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(rev.alias("rev"))
    )
    t = r.agg(dsum("rev", 6).alias("tot"))
    return (
        r.crossJoin(broadcast(t))
        .filter(F.col("rev") / F.col("tot") > 0.042)
        .select(
            "p_brand",
            F.round("rev", 4).alias("revenue"),
            F.round(F.col("rev") / F.col("tot"), 6).alias("share"),
        )
    )


@query(
    "q86_top_supplier_revenue",
    sql=f"""
    WITH sr AS (
      SELECT l_suppkey,
        {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, ROUND(total_rev, 4) AS total_rev
    FROM supplier JOIN sr ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM sr)
    """,
)
def q86_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving MAX quarterly revenue —
    an aggregate filtered by the max of itself. The quarter filter pushes
    to the parquet scan; the per-supplier agg is tiny; its max re-aggregate
    cross-joins back as a broadcast scalar, and equality on the decimal-
    exact revenue keeps ties (per spec) instead of picking one row.
    Supplier joins broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    sr = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(rev.alias("total_rev"))
    )
    mx = sr.agg(F.max("total_rev").alias("mx"))
    return (
        sr.crossJoin(broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(sup, sr.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round("total_rev", 4).alias("total_rev")
        )
    )


@query(
    "q87_large_orders",
    sql="""
    WITH big AS (
      SELECT l_orderkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)
def q87_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    enriched with their customer. The IN-subquery of the spec query is the
    same relation as the outer aggregate, so it collapses to HAVING on one
    pass over lineitem; the surviving key set is ~0.1 % of orders, so both
    enrichment joins take the tiny side broadcast — zero shuffle after the
    single per-order aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )


@query(
    "q88_tfidf_top_terms",
    sql="""
    WITH toks AS (
      SELECT doc_id, tok AS term
      FROM documents,
        UNNEST(string_split_regex(
          lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS u(tok)
      WHERE tok <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), nd AS (
      SELECT COUNT(*) AS n FROM documents
    ), scored AS (
      SELECT doc_id, term,
        ROUND(tf * LN(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tfidf,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def q88_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic keyword-extraction
    step of a corpus pipeline. Tokenize in codegen (regexp_replace + split
    + explode), aggregate term frequency per (doc, term), derive document
    frequency from THAT aggregate (one fact pass; df is a re-agg of tf, not
    a second scan), broadcast the corpus size scalar, and rank per doc on
    the ROUNDED score so sub-1e-6 float noise cannot flip cross-engine
    ordering (q25's discipline). At 100 TB the tf agg is the one wide
    shuffle; the df side is vocabulary-sized and the join on term is
    AQE-broadcastable for real corpora vocabularies."""
    from streaming_feature_store_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@query(
    "q89_min_unit_price_supplier",
    sql="""
    WITH up AS (
      SELECT l_partkey, l_suppkey,
        MIN(l_extendedprice / l_quantity) AS unit
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    )
    SELECT p_brand, l_partkey AS partkey, l_suppkey AS suppkey,
      ROUND(unit, 6) AS unit_price
    FROM up
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY p_brand ORDER BY unit, l_partkey, l_suppkey) = 1
    """,
)
def q89_min_unit_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (argmin join): per brand, the (part, supplier) pair
    offering the minimum observed unit price. The correlated min-cost
    subquery of the spec becomes: one per-(part,supplier) MIN aggregate,
    broadcast dimension joins, then a rank-1 window per brand with full-key
    tiebreaks (deterministic under ties; ranking on the raw min — a double
    MIN is order-independent, so both engines see identical values)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    up = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        "unit", "l_partkey", "l_suppkey"
    )
    return (
        up.join(part, up.l_partkey == part.p_partkey)
        .join(sup, up.l_suppkey == sup.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_brand",
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            F.round("unit", 6).alias("unit_price"),
        )
    )


@query(
    "q90_event_transitions",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
        LAG(event_type) OVER (
          PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n,
      ROUND(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6) AS p
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q90_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov bigram counts +
    row-normalized probabilities) — the sequence-feature shape behind
    session-flow models. One LAG pass partitioned by user (the A7
    machinery), then a tiny type×type aggregate; the probability
    normalization is a window over the ~|types|² result, not the fact."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    seq_w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(seq_w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    norm_w = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm_w), 6).alias("p"),
    )


@query(
    "q91_knn_label_agreement",
    sql="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS qid, a.label AS qlabel, b.label AS nlabel,
        ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine,
        b.vec_id AS nid
      FROM e a CROSS JOIN e b
      WHERE a.vec_id <> b.vec_id
    ), nn AS (
      SELECT qid, qlabel, nlabel,
        ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
      FROM scored
    )
    SELECT qlabel AS label, COUNT(*) AS n_vectors,
      CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
        AS n_agree,
      ROUND(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS agreement
    FROM nn WHERE rn = 1 GROUP BY qlabel
    """,
)
def q91_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label agreement per class — the embedding-quality
    probe run before trusting a space for dedup/sampling (does nearest-
    neighbor structure respect labels?). Exact brute force over the corpus
    (the oracle-able baseline; at real scale the same reduction runs over
    ivf_topk/lsh_cosine_topk candidates instead — both already in
    operators/similarity.py). Cosine is ranked ROUNDED (q25 discipline)
    with id tiebreaks, and the per-class reduction is a tiny agg."""
    from streaming_feature_store_spark.operators.similarity import (
        cosine_topk_blas,
    )

    emb = _t(spark, sf_dir, "embeddings")
    nn = cosine_topk_blas(emb, k=1)
    labels = emb.select("vec_id", "label")
    return (
        nn.join(
            labels.select(F.col("vec_id").alias("query_id"),
                          F.col("label").alias("qlabel")),
            on="query_id",
        )
        .join(
            labels.select(F.col("vec_id").alias("nbr_id"),
                          F.col("label").alias("nlabel")),
            on="nbr_id",
        )
        .groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum((F.col("nlabel") == F.col("qlabel")).cast("long")).alias(
                "n_agree"
            ),
            F.round(
                F.sum((F.col("nlabel") == F.col("qlabel")).cast("long"))
                / F.count("*").cast("double"),
                6,
            ).alias("agreement"),
        )
    )


@query(
    "q92_rolling_distinct_users",
    sql="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ), days AS (
      SELECT day, COUNT(*) AS dau FROM du GROUP BY day
    )
    SELECT d.day, d.dau,
      (SELECT COUNT(DISTINCT u.user_id) FROM du u
        WHERE u.day BETWEEN d.day - 6 AND d.day) AS wau7
    FROM days d
    """,
)
def q92_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (the DAU/WAU report) — the
    shape that CANNOT be a window function at scale because COUNT(DISTINCT)
    over a sliding range needs the full user set per frame. The distributed
    rewrite: collapse events to distinct (day, user) FIRST (the massive
    reduction), then each user-day contributes to the ≤7 report days it
    falls in (sequence + explode), and a plain per-day countDistinct
    finishes. Shuffles carry user-days ×7, never events; at extreme scale
    the same plan swaps countDistinct for HLL sketch union (q45's path).
    The oracle states the semantics directly as a correlated distinct
    subquery — tractable for DuckDB at gate scale, exactly what the
    distributed plan avoids."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau7"))
    return dau.join(wau, on="day").select("day", "dau", "wau7")


@query(
    "q93_new_vs_returning",
    sql="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    )
    SELECT day,
      CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        AS new_users,
      CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
        AS returning_users
    FROM (
      SELECT day, user_id,
        MIN(day) OVER (PARTITION BY user_id) AS first_day
      FROM du
    ) t GROUP BY day
    """,
)
def q93_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split: distinct user-days, first-seen
    day as a per-user MIN window over that already-reduced set (no
    self-join back to the fact), then one conditional aggregate. Two
    shuffles total — the distinct and the user partitioning — both over
    user-day rows."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    first = F.min("day").over(Window.partitionBy("user_id"))
    return (
        du.withColumn("first_day", first)
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias(
                "new_users"
            ),
            F.sum((F.col("day") > F.col("first_day")).cast("long")).alias(
                "returning_users"
            ),
        )
    )


_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

_PROFILE_UNION = "\n      UNION ALL\n".join(
    f"""      SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        COUNT(DISTINCT {c}) AS n_distinct FROM events"""
    for c in _EVENT_COLS
)


@query(
    "q94_column_profile",
    sql=f"""
    SELECT col_name, n_rows, n_null,
      ROUND(n_null / CAST(n_rows AS DOUBLE), 6) AS null_frac, n_distinct
    FROM (
{_PROFILE_UNION}
    ) s
    """,
)
def q94_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the events table (rows, nulls,
    null fraction, exact distinct count) — the audit pass before trusting
    a snapshot. The oracle states it naively as one scan per column; the
    engine runs ONE scan for all null counters plus one melted
    (column, value) grouped pass for all distincts — no per-column
    Expand multiplication (see operators/profile.py)."""
    from streaming_feature_store_spark.operators.profile import profile_columns

    ev = _t(spark, sf_dir, "events")
    return profile_columns(ev, _EVENT_COLS).withColumnRenamed(
        "column", "col_name"
    )


@query(
    "q95_per_source_quota",
    sql="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source, ROW_NUMBER() OVER (
        PARTITION BY source
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) t WHERE rn <= 50
    """,
)
def q95_per_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k per-source sampling (quota form of the corpus-mixing step):
    keep exactly 50 docs per source, selected by deterministic md5-of-id
    order so the sample is reproducible across runs and engines. The
    rate-based twin is q64; the cluster-balanced twin is q69."""
    from streaming_feature_store_spark.operators.curation import (
        sample_exact_per_group,
    )

    docs = _t(spark, sf_dir, "documents")
    return sample_exact_per_group(docs, k=50).select("doc_id", "source")


@query(
    "q96_next_click_after_purchase",
    sql="""
    WITH f AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, value
      FROM events WHERE event_type = 'click'
    ), l AS (
      SELECT user_id, epoch_us(ts) AS us, event_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l.us AS label_ts_us, l.event_id AS label_key,
      (SELECT f.value FROM f
        WHERE f.user_id = l.user_id AND f.us >= l.us
        ORDER BY f.us, f.event_id LIMIT 1) AS next_value
    FROM l
    """,
)
def q96_next_click_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (J4's mirror): for each purchase, the value of the
    user's earliest click at/after it — the outcome-lookup/next-reading
    shape. Same union + one-keyed-sort plan as the backward join (linear,
    no theta-join explosion); the oracle states the semantics as a
    correlated first-row subquery."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = asof_join(
        purchases,
        clicks,
        "user_id",
        "us",
        "us",
        ["value"],
        [],
        "event_id",
        direction="forward",
    )
    return out.select(
        "user_id",
        "label_ts_us",
        "label_key",
        F.col("asof_value").alias("next_value"),
    )


@query(
    "q97_regional_supplier_revenue",
    sql=f"""
    SELECT n_name,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def q97_regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share the
    nation, scoped to one region and one order-year. Join order matters at
    scale: the year filter prunes orders AT THE SCAN, lineitem joins the
    filtered orders first (the only fact-fact join), and every dimension
    (supplier, customer, nation⨝region) broadcasts. The same-nation
    constraint (c_nationkey = s_nationkey) is applied as a post-join
    filter on two broadcast-joined columns, not a join key — no extra
    shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nat.join(
        broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select("n_nationkey", "n_name")
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(broadcast(asia_nations), sup.s_nationkey == F.col("n_nationkey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(rev.alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


@query(
    "q98_returned_items_customers",
    sql=f"""
    SELECT c_custkey, c_name,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS revenue,
      ROUND(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q98_returned_items_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in a quarter.
    Both fact filters (quarter on orders, returnflag on lineitem) push to
    the scans; the fact-fact join runs on the pruned sides; customer and
    nation broadcast; the top-20 is a tiny final sort."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev.alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q99_supplier_nation_year_revenue",
    sql=f"""
    SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS revenue,
      COUNT(*) AS n_lineitems
    FROM lineitem, orders, supplier, nation
    WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
    GROUP BY n_name, o_year
    """,
)
def q99_supplier_nation_year_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by nation × year; this corpus has no
    supplycost, so the measure is discounted revenue): full-fact two-way
    join with broadcast dimensions and a two-level group. The fact-fact
    join shuffles once on orderkey; nation/supplier broadcast; the
    nation×year result is tiny."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            "n_name",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(rev.alias("revenue"), F.count("*").alias("n_lineitems"))
    )


@query(
    "q100_disjunctive_predicates",
    sql=f"""
    SELECT COUNT(*) AS n_items,
      {_DSUM6.format(c='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q100_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive multi-column predicates across the join. The
    optimizer-relevant part: Catalyst extracts the common sub-predicates —
    the union of brands pushes to the part scan and the quantity hull to
    the lineitem scan (verify: PushedFilters In(p_brand,...) / bounds on
    l_quantity) — then evaluates the full disjunction after the part
    join (AQE runtime broadcast — part scales with sf, so no static
    hint). One scan each side, one agg, no shuffle beyond the final
    one-row reduce."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    p = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 30)
    ) | (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    return j.filter(p).agg(
        F.count("*").alias("n_items"), rev.alias("revenue")
    )


@query(
    "q101_unigram_logprob",
    sql="""
    WITH toks AS (
      SELECT doc_id, tok AS term
      FROM documents,
        UNNEST(string_split_regex(
          lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS u(tok)
      WHERE tok <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY doc_id, term
    ), vc AS (
      SELECT term, SUM(c) AS cnt FROM tf GROUP BY term
    ), tot AS (
      SELECT SUM(cnt) AS t FROM vc
    )
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      ROUND(SUM(c * -LN(cnt / CAST(t AS DOUBLE))) / SUM(c), 6) AS mean_nll
    FROM tf JOIN vc USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q101_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus unigram
    model — the model-free stand-in for perplexity-based quality filtering
    (rare-token-heavy docs score high). Same one-fact-pass layout as q88:
    tf per (doc, term), vocabulary counts as a re-agg of tf, corpus total
    as a broadcast scalar, NLL re-weighted by tf so each token instance
    counts once. At 100 TB the vocab join is the only non-broadcast hash
    join and AQE handles it."""
    from streaming_feature_store_spark.operators.text import unigram_nll

    return unigram_nll(_t(spark, sf_dir, "documents"))


@query(
    "q102_bigram_collocations",
    sql="""
    WITH dl AS (
      SELECT doc_id,
        list_filter(string_split_regex(
          lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +'),
          t -> t <> '') AS l
      FROM documents
    ), uni AS (
      SELECT unnest(l) AS w FROM dl
    ), uc AS (
      SELECT w, COUNT(*) AS c FROM uni GROUP BY w
    ), tu AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS t FROM uc
    ), bgj AS (
      SELECT unnest(generate_series(1, len(l) - 1)) AS j, l
      FROM dl WHERE len(l) >= 2
    ), bc AS (
      SELECT l[j] AS a, l[j+1] AS b, COUNT(*) AS c_ab
      FROM bgj GROUP BY a, b
    ), tb AS (
      SELECT CAST(SUM(c_ab) AS DOUBLE) AS tbi FROM bc
    )
    SELECT a, b, c_ab,
      ROUND(LN((c_ab / tbi) / ((ca.c / t) * (cb.c / t))), 6) AS pmi
    FROM bc
    JOIN uc ca ON bc.a = ca.w
    JOIN uc cb ON bc.b = cb.w
    CROSS JOIN tu CROSS JOIN tb
    WHERE c_ab >= 20
    QUALIFY ROW_NUMBER() OVER (ORDER BY c_ab DESC, a, b) <= 20
    """,
)
def q102_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by count with pointwise mutual information
    (the phrase-mining step of corpus analysis). Token lists stay as array
    columns; bigrams come from one ``transform(sequence(...))`` expression
    per document (codegen — no self-join on positions); unigram and bigram
    counts are two aggs over the same tokenized lineage; PMI joins the
    tiny vocab tables. Ranking is on the integer count with lexicographic
    tiebreaks, so cross-engine float noise cannot reorder; PMI is
    display-rounded only."""
    from streaming_feature_store_spark.operators.text import bigram_pmi

    return bigram_pmi(_t(spark, sf_dir, "documents"), min_count=20, k=20)


@query(
    "q103_first_touch_attribution",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ), agg AS (
      SELECT user_id, sid,
        MIN(struct_pack(us := us, eid := event_id, t := event_type)).t AS first_type,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
      FROM sess GROUP BY user_id, sid
    )
    SELECT first_type, COUNT(*) AS n_sessions,
      CAST(SUM(purchased) AS BIGINT) AS n_converted,
      ROUND(SUM(purchased) / CAST(COUNT(*) AS DOUBLE), 6) AS conversion_rate
    FROM agg GROUP BY first_type
    """,
)
def q103_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: which session-opening event type converts —
    sessions (A15 gaps-and-islands machinery) reduced to (first event,
    converted?) and rolled up per attribution source. The session's first
    event is an argmin as ONE struct-MIN aggregate (no extra window pass
    after the sessionization sort), and both engines order the identical
    (us, event_id, type) struct lexicographically."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lag_us = F.lag("us").over(w)
    new_sess = F.when(
        lag_us.isNull() | (F.col("us") - lag_us > 1_800_000_000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id", "event_id", "event_type", "us",
        F.sum(new_sess).over(run).alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.min(F.struct("us", "event_id", "event_type"))["event_type"].alias(
            "first_type"
        ),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "purchased"
        ),
    )
    return per.groupBy("first_type").agg(
        F.count("*").alias("n_sessions"),
        F.sum("purchased").cast("bigint").alias("n_converted"),
        F.round(
            F.sum("purchased") / F.count("*").cast("double"), 6
        ).alias("conversion_rate"),
    )


@query(
    "q104_iqr_outlier_gate",
    sql="""
    WITH b AS (
      SELECT event_type,
        quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN e.value < q1 - 3.0 * (q3 - q1)
                      OR e.value > q3 + 3.0 * (q3 - q1)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      ROUND(b.q1, 6) AS q1, ROUND(b.q3, 6) AS q3
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.q1, b.q3
    """,
)
def q104_iqr_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group IQR outlier gate (the M3 training guard as an oracled
    table query): exact quartiles per event type, Tukey fences at 3×IQR,
    outlier counts from one re-scan with the tiny fence table broadcast.
    Fences derive from the same interpolated-percentile doubles in both
    engines, so the strict inequalities cut identically."""
    ev = _t(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ev.join(broadcast(b), on="event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                (
                    (F.col("value") < F.col("q1") - 3.0 * iqr)
                    | (F.col("value") > F.col("q3") + 3.0 * iqr)
                ).cast("int")
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type", "n_events", "n_outliers",
            F.round("q1", 6).alias("q1"), F.round("q3", 6).alias("q3"),
        )
    )


@query(
    "q105_market_share",
    sql=f"""
    WITH flat AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        l_extendedprice * (1 - l_discount) AS vol,
        s_nationkey
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
      ROUND(CAST(SUM(CAST(CASE WHEN s_nationkey = 5 THEN vol ELSE 0 END
                     AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(SUM(CAST(vol AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS mkt_share,
      {_DSUM6.format(c='vol')} AS total_volume
    FROM flat GROUP BY o_year
    """,
)
def q105_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a regional market's revenue
    per year. The conditional-share pattern: ONE pass computes both the
    nation-filtered numerator and the total denominator as conditional
    decimal sums — no second scan, no self-join of the aggregate. All
    dimensions broadcast; the date filter pushes to the orders scan; the
    fact-fact join is the only shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust_nations = nat.join(
        broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(asia_cust_nations), cust.c_nationkey == F.col("cn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("vol"),
            "s_nationkey",
        )
    )
    num = dsum(F.when(F.col("s_nationkey") == 5, F.col("vol")).otherwise(0.0), 6)
    return flat.groupBy("o_year").agg(
        F.round(num / dsum("vol", 6), 6).alias("mkt_share"),
        dsum("vol", 6).alias("total_volume"),
    )


@query(
    "q106_value_decile_lift",
    sql="""
    WITH b AS (
      SELECT quantile_cont(value,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM events
    ), bucketed AS (
      SELECT CAST(1 + len(list_filter(qs, q -> value > q)) AS INTEGER)
               AS decile,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS purchased
      FROM events CROSS JOIN b
    ), g AS (
      SELECT CAST(SUM(purchased) AS DOUBLE) / COUNT(*) AS base_rate
      FROM bucketed
    )
    SELECT decile, COUNT(*) AS n_events,
      CAST(SUM(purchased) AS BIGINT) AS n_purchases,
      ROUND(SUM(purchased) / CAST(COUNT(*) AS DOUBLE), 6) AS purchase_rate,
      ROUND((SUM(purchased) / CAST(COUNT(*) AS DOUBLE)) / MIN(base_rate), 6)
        AS lift
    FROM bucketed CROSS JOIN g
    GROUP BY decile
    """,
)
def q106_value_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table (the scoring-analytics report): bucket events into
    value deciles and compare each decile's purchase rate to the base
    rate. The NAIVE form is NTILE over a global sort — a single-partition
    window that dies at scale; here the nine exact decile boundaries are
    ONE percentile aggregate broadcast back, and bucketing is a pure
    expression (count of boundaries below the value), so the fact is
    scanned twice with no global sort anywhere. Both engines derive the
    identical interpolated-boundary doubles, so the strict > cuts match."""
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("qs")
    )
    purchased = (F.col("event_type") == "purchase").cast("int")
    bucketed = ev.crossJoin(broadcast(b)).select(
        (
            1
            + F.size(F.filter("qs", lambda q: F.col("value") > q))
        ).cast("int").alias("decile"),
        purchased.alias("purchased"),
    )
    g = bucketed.agg(
        (F.sum("purchased").cast("double") / F.count("*")).alias("base_rate")
    )
    return (
        bucketed.crossJoin(broadcast(g))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("purchased").cast("bigint").alias("n_purchases"),
            F.round(
                F.sum("purchased") / F.count("*").cast("double"), 6
            ).alias("purchase_rate"),
            F.round(
                (F.sum("purchased") / F.count("*").cast("double"))
                / F.first("base_rate"),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q107_ordered_funnel_depth",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ), s1 AS (
      SELECT user_id, sid,
        MIN(CASE WHEN event_type = 'view' THEN us END) AS v_us
      FROM sess GROUP BY user_id, sid
    ), s2 AS (
      SELECT s.user_id, s.sid, s1.v_us,
        MIN(CASE WHEN s.event_type = 'click' AND s.us > s1.v_us
            THEN s.us END) AS c_us
      FROM sess s JOIN s1 ON s.user_id = s1.user_id AND s.sid = s1.sid
      GROUP BY s.user_id, s.sid, s1.v_us
    ), s3 AS (
      SELECT s.user_id, s.sid, s2.v_us, s2.c_us,
        MIN(CASE WHEN s.event_type = 'purchase' AND s.us > s2.c_us
            THEN s.us END) AS p_us
      FROM sess s JOIN s2 ON s.user_id = s2.user_id AND s.sid = s2.sid
      GROUP BY s.user_id, s.sid, s2.v_us, s2.c_us
    )
    SELECT
      CASE WHEN p_us IS NOT NULL THEN 3
           WHEN c_us IS NOT NULL THEN 2
           WHEN v_us IS NOT NULL THEN 1
           ELSE 0 END AS funnel_depth,
      COUNT(*) AS n_sessions
    FROM s3 GROUP BY funnel_depth
    """,
)
def q107_ordered_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ORDERED funnel (view, then a click after it, then a
    purchase after that — q08's funnel counts stages independently; this
    one enforces sequence): per session, the first view, the first click
    AFTER that view, the first purchase AFTER that click, each stage one
    conditional MIN re-joined on the session key. Three aggregations over
    the sessionized rows sharing one (user, sid) partitioning — integer
    event-time comparisons throughout, no per-event Python, no
    quadratic self-join on events."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lag_us = F.lag("us").over(w)
    new_sess = F.when(
        lag_us.isNull() | (F.col("us") - lag_us > 1_800_000_000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id", "event_id", "event_type", "us",
        F.sum(new_sess).over(run).alias("sid"),
    )
    keys = ["user_id", "sid"]
    s1 = sess.groupBy(*keys).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("v_us")
    )
    s2 = (
        sess.join(s1, on=keys)
        .groupBy(*keys, "v_us")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("us") > F.col("v_us")),
                    F.col("us"),
                )
            ).alias("c_us")
        )
    )
    s3 = (
        sess.join(s2, on=keys)
        .groupBy(*keys, "v_us", "c_us")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") > F.col("c_us")),
                    F.col("us"),
                )
            ).alias("p_us")
        )
    )
    depth = (
        F.when(F.col("p_us").isNotNull(), 3)
        .when(F.col("c_us").isNotNull(), 2)
        .when(F.col("v_us").isNotNull(), 1)
        .otherwise(0)
    )
    return s3.groupBy(depth.alias("funnel_depth")).agg(
        F.count("*").alias("n_sessions")
    )


@query(
    "q108_sketch_rollup",
    sql="""
    WITH w AS (
      SELECT CAST(FLOOR(EXTRACT(epoch FROM ts) / 604800) AS BIGINT) AS week,
        user_id
      FROM events
    )
    SELECT week, COUNT(DISTINCT user_id) AS n_users, TRUE AS est_ok
    FROM w GROUP BY week
    """,
)
def q108_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE pattern that makes distinct counts
    pre-aggregable at 100 TB: per-day Datasketches HLL sketches
    (``hll_sketch_agg``) union into weekly estimates (``hll_union_agg``)
    WITHOUT touching raw rows again — the materialized-daily-sketch path a
    warehouse stores so any horizon (week/month/quarter) is a cheap sketch
    union instead of a re-scan. A sketch estimate is engine-specific, so
    the oracle checks the q45 contract: the exact weekly distinct count as
    an ordinary value, plus the sketch estimate landing within the HLL
    error bound (≤5 %, generous vs lgK=12's ~1.6 %)."""
    ev = _t(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week")
    day = F.to_date("ts").alias("day")
    daily = ev.select(week, day, "user_id").groupBy("week", "day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    weekly_est = daily.groupBy("week").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = ev.select(week, "user_id").groupBy("week").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return exact.join(weekly_est, on="week").select(
        "week",
        "n_users",
        (
            F.abs(F.col("est") - F.col("n_users"))
            / F.col("n_users").cast("double")
            <= 0.05
        ).alias("est_ok"),
    )


@query(
    "q109_audience_overlap",
    sql="""
    WITH wu AS (
      SELECT CAST(FLOOR(EXTRACT(epoch FROM ts) / 604800) AS BIGINT) AS week,
        user_id,
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp
      FROM events GROUP BY week, user_id
    )
    SELECT week,
      CAST(SUM(hv) AS BIGINT) AS n_viewers,
      CAST(SUM(hp) AS BIGINT) AS n_purchasers,
      CAST(SUM(hv * hp) AS BIGINT) AS n_overlap,
      TRUE AS est_ok
    FROM wu GROUP BY week
    """,
)
def q109_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation via THETA sketch set algebra — the
    capability HLL lacks: theta sketches support INTERSECTION, so
    "viewers ∩ purchasers per week" needs no distinct-join — two
    filtered sketch aggregates in ONE pass over events, intersected at
    estimate time. At 100 TB the per-segment sketches are stored tiny and
    any audience combination (and/or/not via theta_union /
    theta_intersection / theta_difference) is answered without touching
    raw data. Oracle: exact viewer/purchaser/overlap counts as values,
    sketch estimate bound-checked (q45 contract)."""
    ev = _t(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week")
    per_week = ev.select(week, "user_id", "event_type").groupBy("week").agg(
        F.expr(
            "theta_sketch_agg(user_id) FILTER (WHERE event_type = 'view')"
        ).alias("sk_v"),
        F.expr(
            "theta_sketch_agg(user_id) FILTER (WHERE event_type = 'purchase')"
        ).alias("sk_p"),
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_viewers"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_purchasers"),
    )
    wu = (
        ev.select(week, "user_id", "event_type")
        .groupBy("week", "user_id")
        .agg(
            F.max((F.col("event_type") == "view").cast("int")).alias("hv"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("hp"),
        )
        .groupBy("week")
        .agg(F.sum(F.col("hv") * F.col("hp")).cast("bigint").alias("n_overlap"))
    )
    est = F.expr("theta_sketch_estimate(theta_intersection(sk_v, sk_p))")
    return (
        per_week.join(wu, on="week")
        .select(
            "week",
            "n_viewers",
            "n_purchasers",
            "n_overlap",
            (
                F.abs(est - F.col("n_overlap"))
                / F.greatest(F.col("n_overlap").cast("double"), F.lit(1.0))
                <= 0.05
            ).alias("est_ok"),
        )
    )


@query(
    "q110_kll_quantile_rollup",
    sql="""
    WITH w AS (
      SELECT CAST(FLOOR(EXTRACT(epoch FROM ts) / 604800) AS BIGINT) AS week,
        value
      FROM events
    )
    SELECT week, COUNT(*) AS n_values,
      ROUND(quantile_cont(value, 0.5), 4) AS p50,
      TRUE AS rank_ok
    FROM w GROUP BY week
    """,
)
def q110_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile rollup (q108's pattern for percentiles): per-day
    Datasketches KLL sketches of the value column merge into a weekly
    median estimate without re-scanning raw rows — stored daily sketches
    answer any horizon's quantiles, where exact percentiles would need a
    full re-sort per horizon. The estimate is engine-specific, so the
    oracle checks KLL's RANK GUARANTEE against the data itself: the true
    fraction of the week's rows at or below the estimated median must sit
    within ±0.05 of 0.5 (generous vs k=200's ~1.65 % rank error); the
    exact interpolated median rides along as an ordinary cross-checked
    value."""
    ev = _t(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week")
    day = F.to_date("ts").alias("day")
    daily = ev.select(week, day, "value").groupBy("week", "day").agg(
        F.expr("kll_sketch_agg_double(value)").alias("sk")
    )
    weekly_est = daily.groupBy("week").agg(
        F.expr(
            "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)"
        ).alias("est")
    )
    ranked = (
        ev.select(week, "value")
        .join(broadcast(weekly_est), on="week")
        .groupBy("week")
        .agg(
            F.count("*").alias("n_values"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            (
                (
                    F.sum((F.col("value") <= F.col("est")).cast("long"))
                    / F.count("*").cast("double")
                    - 0.5
                ).between(-0.05, 0.05)
            ).alias("rank_ok"),
        )
    )
    return ranked


@query(
    "q111_heavy_hitters",
    sql="""
    SELECT user_id, cnt,
      CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS INTEGER) AS rank
    FROM (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ) t
    QUALIFY rank <= 4
    """,
)
def q111_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the frequent-items sketch (``approx_top_k``): the
    top users by event count WITHOUT a full groupBy→sort — the sketch is
    one mergeable aggregate whose state is bounded by maxItemsTracked,
    not by the key cardinality, which is the point at 100 TB (a trending
    keyspace of billions tracks only the configured capacity). Capacity
    here (16k) exceeds this corpus's cardinality, so counts are exact and
    the exact-SQL oracle compares directly; the exploded result is
    re-ranked on (count DESC, id) so tie order inside the sketch's array
    never leaks into the output. k=4 keeps the selection boundary
    tie-free at every test scale factor."""
    ev = _t(spark, sf_dir, "events")
    tk = ev.agg(F.expr("approx_top_k(user_id, 4, 16384)").alias("tk"))
    w = Window.orderBy(F.desc("cnt"), "user_id")
    return (
        tk.select(F.explode("tk").alias("s"))
        .select(
            F.col("s.item").alias("user_id"),
            F.col("s.count").alias("cnt"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# ---------------------------------------------------------------------------
# Round-4 additions: packing, SCD2 history, robust profiling, corpus overlap
# ---------------------------------------------------------------------------


@query(
    "q112_sequence_packing",
    sql="""
    WITH d AS (
      SELECT source, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_tokens,
        SUM(n_tokens) OVER (
          PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING
        ) - n_tokens AS start_offset
      FROM d
    )
    SELECT source, doc_id, n_tokens,
      CAST(start_offset AS BIGINT) AS start_offset,
      CAST(FLOOR(start_offset / 512.0) AS BIGINT) AS first_pack,
      CAST(FLOOR((start_offset + n_tokens - 1) / 512.0) AS BIGINT) AS last_pack,
      CAST(FLOOR((start_offset + n_tokens - 1) / 512.0)
           - FLOOR(start_offset / 512.0) + 1 AS BIGINT) AS n_packs_spanned
    FROM c
    """,
)
def q112_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing (concatenate-then-split, per-source
    streams, 512-token windows): every document's placement in the packed
    token stream — the step between chunking and the trainer. Packing is
    per-shard (source) so there is no global sort at any scale."""
    from streaming_feature_store_spark.operators.curation import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


@query(
    "q113_scd2_history",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, event_type, value,
        CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events
    )
    SELECT user_id, event_id, event_type, value,
      us AS valid_from_us,
      LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        AS valid_to_us,
      LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        AS is_current
    FROM e
    """,
)
def q113_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: the event log interval-versioned per user
    (valid_from/valid_to via one lead window — no self-join, no range
    join; same single-sort discipline as the as-of join). The warehouse
    completion of the reference's latest-only feature view (S7)."""
    from streaming_feature_store_spark.operators.history import scd2_history

    ev = _t(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    return scd2_history(ev, "user_id", "us", ["event_type", "value"], "event_id")


@query(
    "q114_winsorized_stats",
    sql="""
    WITH p AS (
      SELECT event_type,
        quantile_cont(value, 0.05) AS plo,
        quantile_cont(value, 0.95) AS phi,
        COUNT(value) AS n
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, n,
      ROUND(plo, 6) AS p_lo,
      ROUND(phi, 6) AS p_hi,
      ROUND(CAST(AVG(CAST(ROUND(LEAST(GREATEST(e.value, plo), phi), 6)
                          AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS winsorized_mean,
      CAST(SUM(CASE WHEN e.value < plo THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clamped_low,
      CAST(SUM(CASE WHEN e.value > phi THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clamped_high
    FROM events e JOIN p ON e.event_type = p.event_type
    GROUP BY e.event_type, n, plo, phi
    """,
)
def q114_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group summary: exact 5/95 percentiles, values clamped
    into that range, decimal-exact mean of the clamps plus tail-clamp
    counts — bounded-influence outlier treatment (profile family, the
    keep-rows twin of the IQR drop gate M3)."""
    from streaming_feature_store_spark.operators.profile import winsorized_stats

    return winsorized_stats(
        _t(spark, sf_dir, "events"), "value", "event_type", lo=0.05, hi=0.95
    )


@query(
    "q115_value_histogram",
    sql="""
    WITH s AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    b AS (
      SELECT LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 20.0)) AS BIGINT),
                   19) AS bin,
        COUNT(*) AS cnt
      FROM events, s WHERE value IS NOT NULL GROUP BY 1
    )
    , grid AS (
      SELECT r.range AS bin, lo, hi FROM range(20) r CROSS JOIN s
    )
    SELECT g.bin,
      ROUND(lo + g.bin * ((hi - lo) / 20.0), 6) AS bin_lo,
      ROUND(lo + (g.bin + 1) * ((hi - lo) / 20.0), 6) AS bin_hi,
      COALESCE(cnt, CAST(0 AS BIGINT)) AS cnt
    FROM grid g LEFT JOIN b ON g.bin = b.bin
    """,
)
def q115_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values (exact min/max edges,
    map-side grouped counts, empty bins filled) — ks_binned's fixed-bin
    discipline as a first-class profiling report."""
    from streaming_feature_store_spark.operators.profile import value_histogram

    return value_histogram(_t(spark, sf_dir, "events"), "value", n_bins=20)


@query(
    "q116_source_overlap",
    sql=f"""
    WITH tok AS (
      SELECT source, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT source, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT DISTINCT source AS g, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT g, COUNT(*) AS nsh FROM sh GROUP BY g
    ), inter AS (
      SELECT a.g AS source_a, b.g AS source_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common,
      ROUND(n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE), 6)
        AS jaccard
    FROM inter
      JOIN sizes sa ON source_a = sa.g
      JOIN sizes sb ON source_b = sb.g
    """,
)
def q116_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level source-overlap matrix: exact Jaccard between the
    distinct 3-shingle sets of every source pair (the pre-mixing
    contamination/redundancy audit; theta sketches are the extreme-scale
    swap, q109)."""
    from streaming_feature_store_spark.operators.text import source_overlap

    return source_overlap(_t(spark, sf_dir, "documents"))


@query(
    "q117_cluster_cohesion",
    sql="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
      SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cc
      FROM (SELECT vec_id, v,
              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
      WHERE rn <= 8
    ), scored AS (
      SELECT e.vec_id, centroid_id,
        ROUND(list_dot_product(e.v, e.v)
              - 2 * list_dot_product(e.v, cv) + cc, 6) AS dist2,
        ROUND(list_dot_product(e.v, cv)
              / (sqrt(list_dot_product(e.v, e.v)) * sqrt(cc)), 6) AS cos
      FROM e CROSS JOIN c
    ), assigned AS (
      SELECT vec_id, centroid_id AS cluster_id, cos,
        ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist2, centroid_id) AS rk
      FROM scored
    )
    SELECT cluster_id,
      COUNT(*) AS n_members,
      ROUND(CAST(AVG(CAST(cos AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS mean_cosine,
      MIN(cos) AS min_cosine
    FROM assigned WHERE rk = 1 GROUP BY cluster_id
    """,
)
def q117_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster cohesion report over the embedding corpus (member
    count, decimal-exact mean cosine to centroid, worst member) — the
    clustering-quality number an IVF/diversity pipeline watches."""
    from streaming_feature_store_spark.operators.similarity import (
        cluster_cohesion,
    )

    return cluster_cohesion(_t(spark, sf_dir, "embeddings"), k=8)


@query(
    "q118_order_value_gini",
    sql="""
    WITH r AS (
      SELECT l_orderkey, l_extendedprice AS x,
        ROW_NUMBER() OVER (
          PARTITION BY l_orderkey ORDER BY l_extendedprice, l_linenumber
        ) AS i
      FROM lineitem
    ), g AS (
      SELECT l_orderkey, COUNT(*) AS n,
        SUM(CAST(x AS DECIMAL(28,6))) AS sx,
        SUM(CAST(i * x AS DECIMAL(28,6))) AS six
      FROM r GROUP BY l_orderkey
    )
    SELECT l_orderkey, n,
      ROUND(2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
            - (n + 1) / CAST(n AS DOUBLE), 6) AS gini
    FROM g WHERE n >= 2 AND sx != 0
    """,
)
def q118_order_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order Gini concentration of line value — is an order's value
    spread evenly or dominated by one line (a fraud/quality shape
    feature). Group-partitioned rank windows, decimal-accumulated sums,
    no global sort."""
    from streaming_feature_store_spark.operators.profile import gini_by_group

    return gini_by_group(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
    )


@query(
    "q119_brand_basket_lift",
    sql="""
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, p_brand AS i
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n AS (SELECT COUNT(DISTINCT b) AS nb FROM bi),
    supp AS (SELECT i, COUNT(*) AS c FROM bi GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS c_ab
      FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, c_ab,
      ROUND(c_ab * CAST(nb AS DOUBLE) / (sa.c * sb.c), 6) AS lift
    FROM pairs CROSS JOIN n
      JOIN supp sa ON item_a = sa.i
      JOIN supp sb ON item_b = sb.i
    ORDER BY c_ab DESC, item_a, item_b LIMIT 20
    """,
)
def q119_brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket brand co-occurrence with lift over orders — set
    co-occurrence twin of bigram PMI (q102): basket-keyed self-join
    bounded by basket width, AQE-gated supports join, TakeOrdered
    top-k (no static hint on the sf-scaling part dim)."""
    from streaming_feature_store_spark.operators.text import cooccurrence_lift

    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    baskets = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return cooccurrence_lift(baskets, "l_orderkey", "p_brand", min_count=2, k=20)


@query(
    "q120_last_touch_attribution",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ), agg AS (
      SELECT user_id, sid,
        MAX(struct_pack(us := us, eid := event_id, t := event_type)).t
          AS last_type,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
      FROM sess GROUP BY user_id, sid
    )
    SELECT last_type, COUNT(*) AS n_sessions,
      CAST(SUM(purchased) AS BIGINT) AS n_converted,
      ROUND(SUM(purchased) / CAST(COUNT(*) AS DOUBLE), 6) AS conversion_rate
    FROM agg GROUP BY last_type
    """,
)
def q120_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — q103's mirror: the session's CLOSING event
    type as an argmax struct-MAX in the same single sessionization pass."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lag_us = F.lag("us").over(w)
    new_sess = F.when(
        lag_us.isNull() | (F.col("us") - lag_us > 1_800_000_000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id", "event_id", "event_type", "us",
        F.sum(new_sess).over(run).alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.max(F.struct("us", "event_id", "event_type"))["event_type"].alias(
            "last_type"
        ),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
    )
    return per.groupBy("last_type").agg(
        F.count("*").alias("n_sessions"),
        F.sum("purchased").cast("bigint").alias("n_converted"),
        F.round(F.sum("purchased") / F.count("*").cast("double"), 6).alias(
            "conversion_rate"
        ),
    )


@query(
    "q121_user_adoption_curve",
    sql="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
    ), d AS (
      SELECT day, COUNT(*) AS n_new_users FROM f GROUP BY day
    )
    SELECT day, n_new_users,
      CAST(SUM(n_new_users) OVER (
        ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum_users
    FROM d
    """,
)
def q121_user_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative user adoption: first-seen day per user (one distributed
    agg — never events × days), daily new-user counts, and a running
    total whose window runs over the DAY-bounded frame only (bounded
    single partition, like the calendar itself)."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first.groupBy("day").agg(F.count("*").alias("n_new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("bigint").alias("n_cum_users"),
    )


@query(
    "q122_session_bounce_rate",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ), per AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
        CAST(make_timestamp(MIN(us)) AS DATE) AS day
      FROM sess GROUP BY user_id, sid
    )
    SELECT day, COUNT(*) AS n_sessions,
      CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_bounce,
      ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
    FROM per GROUP BY day
    """,
)
def q122_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: single-event sessions over total sessions by
    session-start day — the engagement-quality rollup on top of the A15
    sessionization pass (one sort, two grouped reductions)."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lag_us = F.lag("us").over(w)
    new_sess = F.when(
        lag_us.isNull() | (F.col("us") - lag_us > 1_800_000_000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id", "event_id", "us", F.sum(new_sess).over(run).alias("sid")
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        F.to_date(F.timestamp_micros(F.min("us"))).alias("day"),
    )
    return per.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("int")).cast("bigint").alias(
            "n_bounce"
        ),
        F.round(
            F.sum((F.col("n_events") == 1).cast("int"))
            / F.count("*").cast("double"),
            6,
        ).alias("bounce_rate"),
    )


@query(
    "q123_payload_stats",
    sql="""
    SELECT source,
      COUNT(*) AS n_payloads,
      CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      COUNT(DISTINCT text) AS n_distinct_payloads,
      CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents GROUP BY source
    """,
)
def q123_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column family, driver-verifiable form: documents
    re-shaped as binary payloads, pushed through the REAL Arrow
    mapInPandas payload-feature kernel (multimodal.extract_payload_
    features — sha1 + byte size per payload, batched, never row-tripped),
    then rolled up per source. The oracle checks byte totals directly and
    payload distinctness through the sha1 (injective in practice), so the
    multimodal plumbing — binary schema, Arrow batch shape, kernel
    output contract — gets a hard correctness signal without any decode
    library."""
    from streaming_feature_store_spark.operators.multimodal import (
        extract_payload_features,
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        "source",
        F.col("text").cast("binary").alias("payload"),
    )
    feats = extract_payload_features(media.select("media_id", "payload"))
    return (
        feats.join(media.select("media_id", "source"), on="media_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_payloads"),
            F.sum("payload_bytes").cast("bigint").alias("total_bytes"),
            F.countDistinct("payload_sha1").alias("n_distinct_payloads"),
            F.max("payload_bytes").cast("bigint").alias("max_bytes"),
        )
    )


@query(
    "q124_grouping_sets_stats",
    sql=f"""
    SELECT lang, source, COUNT(*) AS n_docs,
      {_DSUM.format(c='n_chars')} AS chars_sum,
      CAST(GROUPING(lang) AS INTEGER) AS g_lang,
      CAST(GROUPING(source) AS INTEGER) AS g_source
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), ())
    """,
)
def q124_grouping_sets_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping construct next to q49's
    ROLLUP and q75's CUBE): (lang, source) detail, lang subtotals and the
    grand total in ONE Expand-based pass with GROUPING() disambiguating
    real NULLs from subtotal rows — one scan instead of three unioned
    aggregations."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupingSets([["lang", "source"], ["lang"], []], "lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            dsum(F.col("n_chars")).alias("chars_sum"),
            F.grouping("lang").cast("int").alias("g_lang"),
            F.grouping("source").cast("int").alias("g_source"),
        )
    )


@query(
    "q125_supplier_top_part",
    sql="""
    WITH per AS (
      SELECT l_suppkey, l_partkey,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM lineitem GROUP BY l_suppkey, l_partkey
    )
    SELECT l_suppkey,
      MAX(struct_pack(rev := rev, pk := l_partkey)).pk AS top_partkey,
      ROUND(MAX(struct_pack(rev := rev, pk := l_partkey)).rev, 2)
        AS top_part_revenue
    FROM per GROUP BY l_suppkey
    """,
)
def q125_supplier_top_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max without a rank window: each supplier's highest-revenue part
    via ONE struct-MAX aggregate over decimal-exact per-(supplier, part)
    revenue — two hash aggregations sharing the l_suppkey partitioning,
    no per-group sort anywhere (the A13 mode/arg-max family at join
    scale)."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey", "l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    s = F.max(F.struct(F.col("rev"), F.col("l_partkey").alias("pk")))
    return per.groupBy("l_suppkey").agg(
        s["pk"].alias("top_partkey"),
        F.round(s["rev"], 2).alias("top_part_revenue"),
    )


@query(
    "q126_value_percent_rank",
    sql="""
    SELECT event_id, event_type, value,
      ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value), 6)
        AS pr,
      ROUND(CUME_DIST() OVER (PARTITION BY event_type ORDER BY value), 6)
        AS cd
    FROM events
    """,
)
def q126_value_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist (the two remaining ranking-window
    mechanisms next to row_number/rank/ntile): each event's value
    percentile within its type. Ties collapse by definition, so the
    result is deterministic with no tiebreak. Scale note: partitions
    here are the (few) event types, so each is one sorted partition —
    the q106 broadcast-quantile-boundary rewrite is the 100 TB form;
    this query exists to pin the exact windowed semantics."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "q127_mad_by_group",
    sql="""
    SELECT event_type, ROUND(mad(value), 6) AS mad_value
    FROM events GROUP BY event_type
    """,
)
def q127_mad_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.8 grouped-agg pandas UDAF (mad_udf — median absolute
    deviation) under a DuckDB oracle (its native ``mad``): custom Python
    aggregates carry the same correctness gate as builtins. Arrow moves
    each group's values to one worker; both engines interpolate the
    median identically."""
    from streaming_feature_store_spark.functions.udx import mad_udf

    mad = mad_udf()
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(mad("value"), 6).alias("mad_value")
    )


@query(
    "q128_locf_gap_fill",
    sql="""
    WITH sparse AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
        CASE WHEN event_id % 3 = 0 THEN value END AS reading
      FROM events
    )
    SELECT user_id, event_id, us, reading,
      LAST_VALUE(reading IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS reading_filled
    FROM sparse
    """,
)
def q128_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap fill over a sparse
    reading stream — the sensor forward-fill every telemetry pipeline
    needs, and the same last(ignorenulls) machinery the as-of join is
    built on (one entity-partitioned sort, no self-join). The sparse
    column is carved deterministically (every third event carries a
    reading) so the fill path is exercised on every entity."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    sparse = ev.select(
        "user_id",
        "event_id",
        "us",
        F.when(F.col("event_id") % 3 == 0, F.col("value")).alias("reading"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sparse.withColumn(
        "reading_filled", F.last("reading", ignorenulls=True).over(w)
    )


@query(
    "q129_complete_users",
    sql="""
    WITH total AS (SELECT COUNT(DISTINCT event_type) AS t FROM events)
    SELECT user_id, COUNT(DISTINCT event_type) AS n_types
    FROM events CROSS JOIN total
    GROUP BY user_id, t
    HAVING COUNT(DISTINCT event_type) = t
    """,
)
def q129_complete_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: users who performed EVERY event type — the
    set-containment join expressed as one grouped distinct count against
    a broadcast global scalar (never a per-user NOT EXISTS double
    anti-join)."""
    ev = _t(spark, sf_dir, "events")
    total = ev.agg(F.countDistinct("event_type").alias("t"))
    return (
        ev.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_types"))
        .crossJoin(broadcast(total))
        .filter(F.col("n_types") == F.col("t"))
        .select("user_id", "n_types")
    )


@query(
    "q130_priority_shipment_classes",
    sql="""
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate
    GROUP BY l_returnflag
    """,
)
def q130_priority_shipment_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (this corpus has no l_shipmode/commitdate, so the
    class column is l_returnflag and the lateness predicate is ship-after-
    order): per shipment class, how many line items belonged to
    high-priority vs low-priority orders within one ship year. The year
    filter is pushed to the lineitem scan before the join; the non-equi
    lateness predicate rides on the equi join; the conditional counts are
    one hash aggregate (reference Q12 analog: batch/jobs/feature_backfill
    conditional-ratio pattern).  Completes the TPC-H shape set together
    with q131/q132."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipdate", "l_returnflag")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q131_part_supplier_counts",
    sql="""
    SELECT p_brand, p_type, p_size,
      COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type <> 'PROMO'
      AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q131_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp reconstructed as DISTINCT (partkey,
    suppkey) pairs from lineitem): how many qualifying suppliers can
    supply each surviving (brand, type, size) combination, excluding
    deadbeat suppliers (NOT IN → left-anti join on the filtered supplier
    dim).  All part predicates are pushed to the dim scan; the anti-join
    build side is the bounded negative-balance supplier subset (strategy
    left to AQE — at warehouse scale the list is dim-bounded, not
    fact-proportional)."""
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49)
    )
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q132_concentrated_suppliers",
    sql="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
        CAST(SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                        AND l_shipdate < TIMESTAMP '1997-01-01'
                       THEN l_quantity ELSE 0 END AS DECIMAL(18,4)))
             AS DOUBLE) AS qty_1996
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE s_nationkey < 10
      AND s_suppkey IN (
        SELECT l_suppkey FROM ps
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%' AND qty_1996 > 0.5 * total_qty)
    """,
)
def q132_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty reconstructed as the pair's all-time
    shipped quantity): suppliers in low-key nations that concentrated
    more than half of some red part's lifetime volume into one ship
    year.  The correlated nested aggregate decorrelates into ONE
    per-(part, supplier) hash aggregate computing both the lifetime and
    windowed sums in a single pass, a semi-join against the filtered
    part dim, then a semi-join into the supplier dim — no correlated
    re-scan anywhere.  Quantity sums are decimal-exact before the
    half-volume comparison."""
    li = _t(spark, sf_dir, "lineitem")
    in_1996 = (
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        dsum("l_quantity").alias("total_qty"),
        dsum(F.when(in_1996, F.col("l_quantity")).otherwise(0.0)).alias(
            "qty_1996"
        ),
    )
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    qual = (
        ps.join(red, ps.l_partkey == red.p_partkey, "left_semi")
        .filter(F.col("qty_1996") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 10)
    return (
        s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


@query(
    "q133_post_purchase_activity",
    sql="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS start_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT purchase_id,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
    FROM p JOIN events e
      ON e.user_id = p.user_id
     AND epoch_us(e.ts) >= p.start_us
     AND epoch_us(e.ts) < p.start_us + 3600000000
     AND e.event_id <> p.purchase_id
    GROUP BY purchase_id
    """,
)
def q133_post_purchase_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval join (J2's offline twin, via
    ``operators.enrich.interval_join``): per purchase, the same user's
    event count and decimal-exact value sum in the hour FOLLOWING it.
    One hash join on the user key with the range predicates as residual
    conditions — the time axis never becomes a join key, so there is no
    binning shuffle; integer-micros comparisons throughout. The span side
    is a filtered projection of the same fact table (a self interval
    join), the shape post-conversion attribution runs at warehouse
    scale."""
    from streaming_feature_store_spark.operators.enrich import interval_join

    ev = with_event_micros(_t(spark, sf_dir, "events"))
    spans = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("span_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("us").alias("start_us"),
        (F.col("us") + F.lit(3_600_000_000)).alias("end_us"),
    )
    side = ev.select("user_id", "event_id", "us", "value")
    return (
        interval_join(side, spans, "user_id", "span_user")
        .filter(F.col("event_id") != F.col("purchase_id"))
        .groupBy("purchase_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("val_sum"),
        )
    )


@query(
    "q134_linear_interpolation",
    sql="""
    WITH sparse AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
        CASE WHEN event_id % 3 = 0 THEN value END AS reading
      FROM events
    ), n AS (
      SELECT *,
        LAST_VALUE(reading IGNORE NULLS) OVER wb AS prev_v,
        LAST_VALUE(CASE WHEN reading IS NOT NULL THEN us END IGNORE NULLS)
          OVER wb AS prev_us,
        FIRST_VALUE(reading IGNORE NULLS) OVER wf AS next_v,
        FIRST_VALUE(CASE WHEN reading IS NOT NULL THEN us END IGNORE NULLS)
          OVER wf AS next_us
      FROM sparse
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, us, reading,
      ROUND(CASE
        WHEN reading IS NOT NULL THEN reading
        WHEN prev_v IS NULL THEN next_v
        WHEN next_v IS NULL THEN prev_v
        WHEN next_us = prev_us THEN prev_v
        ELSE prev_v + (next_v - prev_v) * (us - prev_us)
                      / (next_us - prev_us)
      END, 6) AS reading_interp
    FROM n
    """,
)
def q134_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of the q128 sparse reading
    stream (``operators.windows.interpolate_linear``): nulls become the
    blend of nearest non-null neighbours, nearest-fill at the edges. Two
    frames over one entity sort; the FP expression uses only
    IEEE-correctly-rounded ops in an identical shape on both engines, so
    the oracle matches bit-for-bit before the presentation ROUND."""
    ev = _t(spark, sf_dir, "events")
    sparse = with_event_micros(ev).select(
        "user_id",
        "event_id",
        "us",
        "ts",
        F.when(F.col("event_id") % 3 == 0, F.col("value")).alias("reading"),
    )
    out = interpolate_linear(sparse, "user_id", "reading")
    return out.select(
        "user_id",
        "event_id",
        "us",
        "reading",
        F.round("reading_interp", 6).alias("reading_interp"),
    )


@query(
    "q135_weighted_sample",
    sql="""
    WITH s AS (
      SELECT event_type, event_id, value,
        GREATEST(COALESCE(value, 0.0), 0.0) + 1.0 AS w,
        (CAST(('0x' || SUBSTR(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) + 1.0) / 4294967296.0 AS u
      FROM events
    ), ranked AS (
      SELECT event_type, event_id, value,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY w / u DESC, event_id
        ) AS INT) AS samp_rank
      FROM s
    )
    SELECT event_type, event_id, value, samp_rank
    FROM ranked WHERE samp_rank <= 20
    """,
)
def q135_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (``operators.curation.weighted_priority_sample`` — Sequential Poisson
    sampling): 20 events per type with inclusion probability proportional
    to clamped value.  The priority ``w / u`` uses one add and one divide
    on an md5-derived exact integer, all IEEE-correctly-rounded, so the
    DuckDB oracle selects the IDENTICAL sample — a reproducibility bar
    ln-based weighted-reservoir keys cannot meet across engines."""
    from streaming_feature_store_spark.operators.curation import (
        weighted_priority_sample,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = F.greatest(F.coalesce(F.col("value"), F.lit(0.0)), F.lit(0.0)) + F.lit(
        1.0
    )
    return weighted_priority_sample(
        ev, 20, w, id_col="event_id", strata_col="event_type"
    ).select("event_type", "event_id", "value", "samp_rank")


def _pagerank_oracle_sql() -> str:
    """Unrolled 3-iteration PageRank twin. The node count is DERIVED from
    the nodes CTE (a scalar ``nc`` cross-joined everywhere) rather than
    hardcoded, so the oracle tracks the engine's dynamic ``n_nodes`` at
    any scale factor — if some nation had no trade edges, both sides see
    the same smaller graph.  Every arithmetic step is forced to DOUBLE
    (``CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)`` etc.) because e.g.
    DuckDB's decimal (1.0-0.85)/n and the engine's IEEE-double Python
    ``(1.0-0.85)/n`` differ in the last ulp — identical IEEE ops give
    identical bit patterns, which the 6-dp hash gate needs on every
    node."""
    tp = "((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nm)"
    dsum6 = _DSUM6.format(c="l_extendedprice * (1 - l_discount)")
    it = """
    d{i} AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r{i}
             WHERE node NOT IN (SELECT DISTINCT src FROM edges)),
    c{i} AS (SELECT dst AS node, SUM(rank * p) AS c
             FROM r{i} JOIN norm ON r{i}.node = norm.src GROUP BY dst),
    r{j} AS (SELECT n.node,
               {tp} + 0.85 * (COALESCE(c, CAST(0.0 AS DOUBLE))
                              + dm / nm) AS rank
             FROM nodes n LEFT JOIN c{i} ON n.node = c{i}.node
             CROSS JOIN d{i} CROSS JOIN nc)"""
    iters = ",".join(it.format(i=i, j=i + 1, tp=tp) for i in range(3))
    return f"""
    WITH edges AS (
      SELECT cn.n_name AS src, sn.n_name AS dst, {dsum6} AS w
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY cn.n_name, sn.n_name
    ), norm AS (
      SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM edges
    ), nodes AS (
      SELECT DISTINCT node FROM
        (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
    ), nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nm FROM nodes),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nm AS rank
           FROM nodes CROSS JOIN nc),
    {iters}
    SELECT node, ROUND(rank, 6) AS rank FROM r3
    """


@query("q136_nation_pagerank", sql=_pagerank_oracle_sql())
def q136_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (customer nation →
    supplier nation, edge weight = decimal-exact trade volume), 3
    iterations, damping 0.85, dangling mass redistributed — the original
    published formulation via ``operators.graph.pagerank``.  Each
    iteration is ONE contribution shuffle plus two broadcast scalars; the
    oracle unrolls the identical recurrence in SQL.  Second iterative
    algorithm on the DataFrame fixed-point pattern next to q67's
    connected components."""
    from streaming_feature_store_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    cn = na.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = na.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(cn), c.c_nationkey == F.col("c_nk"))
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(broadcast(sn), su.s_nationkey == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6
            ).alias("w")
        )
    )
    out = pagerank(edges, "src", "dst", weight="w", iterations=3)
    return out.select("node", F.round("rank", 6).alias("rank"))


@query(
    "q137_user_event_sequences",
    sql="""
    WITH r AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
      STRING_AGG(event_type, '|' ORDER BY us, event_id) AS seq,
      CAST(COUNT(*) AS INT) AS seq_len
    FROM r WHERE rn <= 10 GROUP BY user_id
    """,
)
def q137_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence assembly for sequential/transformer recommenders:
    each user's last 10 events as an ordered type sequence.  One
    entity-partitioned rank prunes to the tail (WindowGroupLimit pushes
    the top-10 into each map partition before the shuffle), then
    collect_list + sort_array on (us, event_id, type) structs rebuilds
    chronological order — per-user state is bounded at 10 rows, never the
    full history."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    last10 = (
        ev.select("user_id", "event_type", "us", "event_id")
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= 10)
    )
    return last10.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("us", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            "|",
        ).alias("seq"),
        F.count("*").cast("int").alias("seq_len"),
    )


@query(
    "q138_negative_samples",
    sql="""
    WITH items AS (
      SELECT p_partkey AS item_id,
        CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS BIGINT) AS iidx
      FROM (SELECT DISTINCT p_partkey FROM part)
    ), n AS (SELECT COUNT(*) AS m FROM items),
    pos AS (
      SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), users AS (SELECT DISTINCT user_id FROM pos),
    draws AS (
      SELECT user_id, d.generate_series AS draw
      FROM users CROSS JOIN generate_series(0, 9) d
    ), cand AS (
      SELECT user_id, draw,
        CAST(('0x' || SUBSTR(md5(CAST(user_id AS VARCHAR) || ':'
                                 || CAST(draw AS VARCHAR)), 1, 8))
             AS BIGINT) % m AS iidx
      FROM draws CROSS JOIN n
    ), neg AS (
      SELECT c.user_id, i.item_id, MIN(c.draw) AS d
      FROM cand c JOIN items i USING (iidx)
      WHERE NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.user_id = c.user_id
                          AND p.item_id = i.item_id)
      GROUP BY c.user_id, i.item_id
    )
    SELECT user_id, item_id, neg_rank FROM (
      SELECT user_id, item_id,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY d, item_id) AS INT) AS neg_rank
      FROM neg
    ) WHERE neg_rank <= 5
    """,
)
def q138_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender / contrastive
    training (``curation.negative_sample``): 5 parts each customer never
    purchased, drawn via md5(user, draw) mod |items| — O(users x k) rows
    end-to-end, the user x item cross space is never materialized.  The
    md5 draw is exact integer arithmetic, so the oracle reproduces the
    identical sample; the oracle's NOT EXISTS is the anti-join."""
    from streaming_feature_store_spark.operators.curation import (
        negative_sample,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
    )
    items = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item_id")
    )
    return negative_sample(inter, items, k=5, oversample=2)


@query(
    "q139_feature_correlations",
    sql="""
    SELECT
      ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      ROUND(corr(l_extendedprice, l_discount), 6) AS corr_price_discount,
      ROUND(corr(l_quantity, l_tax), 6) AS corr_qty_tax
    FROM lineitem
    """,
)
def q139_feature_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations across fact numerics — the feature
    pre-screen every training pipeline runs before assembling a model
    frame (drop near-duplicate features, sanity-check leakage).  One
    scan, all three moments-based correlations in a single hash
    aggregate; at any scale this is map-side partials + one merge."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias(
            "corr_price_discount"
        ),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("corr_qty_tax"),
    )


@query(
    "q140_categorical_entropy",
    sql="""
    WITH u AS (
      SELECT 'event_type' AS col, CAST(event_type AS VARCHAR) AS v
      FROM events
      UNION ALL
      SELECT 'hour_of_day', CAST(EXTRACT(hour FROM ts) AS VARCHAR)
      FROM events
    ), counts AS (
      SELECT col, v, COUNT(*) AS n FROM u GROUP BY col, v
    ), p AS (
      SELECT col, n / SUM(n) OVER (PARTITION BY col) AS p FROM counts
    )
    SELECT col AS "column",
      ROUND(-SUM(p * LN(p)), 6) AS entropy,
      ROUND(1 - SUM(p * p), 6) AS gini_impurity,
      CAST(COUNT(*) AS INT) AS n_categories
    FROM p GROUP BY col
    """,
)
def q140_categorical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy + Gini impurity per categorical column
    (``profile.categorical_entropy``): label-balance / source-mix
    diversity monitoring.  The reductions run over the cardinality-
    bounded per-column value counts, never the raw rows twice."""
    from streaming_feature_store_spark.operators.profile import (
        categorical_entropy,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day")
    )
    return categorical_entropy(ev, ["event_type", "hour_of_day"])


@query(
    "q141_benford_digits",
    sql="""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(ABS(o_totalprice) AS DECIMAL(18,4))
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE ABS(o_totalprice) >= 1.0
    ), obs AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), t AS (
      SELECT digit, n,
        n / SUM(n) OVER () AS observed_p,
        SUM(n) OVER () AS total
      FROM obs
    )
    SELECT digit,
      ROUND(observed_p, 6) AS observed_p,
      ROUND(LOG10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS benford_p,
      ROUND(total * (observed_p - LOG10(1 + 1 / CAST(digit AS DOUBLE)))
                  * (observed_p - LOG10(1 + 1 / CAST(digit AS DOUBLE)))
                  / LOG10(1 + 1 / CAST(digit AS DOUBLE)), 6)
        AS chi2_contribution
    FROM t
    """,
)
def q141_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit screen over order totals
    (``profile.benford_digit_stats``) — the classic fabricated-amounts
    detector in fraud analytics (the reference's domain): naturally
    occurring multi-scale amounts follow P(d)=log10(1+1/d).  One filter,
    one 9-group aggregate, digit extraction in codegen."""
    from streaming_feature_store_spark.operators.profile import (
        benford_digit_stats,
    )

    o = _t(spark, sf_dir, "orders")
    return benford_digit_stats(o, "o_totalprice")


@query(
    "q142_feature_association",
    sql="""
    WITH joint AS (
      SELECT CAST(event_type AS VARCHAR) AS a,
             CAST(EXTRACT(hour FROM ts) AS VARCHAR) AS b,
             COUNT(*) AS n_ab
      FROM events GROUP BY 1, 2
    ), ma AS (SELECT a, SUM(n_ab) AS n_a FROM joint GROUP BY a),
    mb AS (SELECT b, SUM(n_ab) AS n_b FROM joint GROUP BY b),
    j AS (
      SELECT joint.*, n_a, n_b, SUM(n_ab) OVER () AS n
      FROM joint JOIN ma USING (a) JOIN mb USING (b)
    )
    SELECT 'event_type' AS col_a, 'hour_of_day' AS col_b,
      ROUND(SUM((n_ab / n) * LN((n_ab / n)
                / ((n_a / n) * (n_b / n)))), 6) AS mutual_information,
      ROUND(SQRT(SUM((n_ab - n_a * n_b / n) * (n_ab - n_a * n_b / n)
                     / (n_a * n_b / n))
                 / (ANY_VALUE(n)
                    * (LEAST(COUNT(DISTINCT a), COUNT(DISTINCT b)) - 1))),
            6) AS cramers_v,
      CAST(COUNT(DISTINCT a) AS INT) AS card_a,
      CAST(COUNT(DISTINCT b) AS INT) AS card_b
    FROM j
    """,
)
def q142_feature_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association screen
    (``profile.categorical_association``): mutual information and
    Cramér's V between event type and hour of day — the categorical
    counterpart of q139's numeric correlation pre-screen.  Marginals
    derive from the persisted joint contingency counts (one row scan
    total); everything downstream is cardinality-bounded."""
    from streaming_feature_store_spark.operators.profile import (
        categorical_association,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day")
    )
    return categorical_association(ev, "event_type", "hour_of_day")


@query(
    "q143_cusum_changepoint",
    sql="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS m
      FROM events GROUP BY 1
    ), mu AS (SELECT AVG(m) AS mean_m FROM daily),
    c AS (
      SELECT day,
        ROUND(m, 6) AS daily_metric,
        ROUND(m - mean_m, 6) + 0.0 AS deviation,
        ROUND(SUM(m - mean_m) OVER (
          ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ), 6) + 0.0 AS cusum
      FROM daily CROSS JOIN mu
    )
    SELECT day, daily_metric, deviation, cusum,
      ABS(cusum) = MAX(ABS(cusum)) OVER () AS is_peak
    FROM c
    """,
)
def q143_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection over the daily event series
    (``drift.cusum_changepoint``): the running sum of deviations from the
    series mean peaks at the change point — the WHEN companion to the
    PSI/KS/chi² WHETHER tests.  The ordered window runs over calendar
    days (bounded), never events; both engines accumulate in day order so
    the running double sums agree bit-for-bit before rounding."""
    from streaming_feature_store_spark.operators.drift import (
        cusum_changepoint,
    )

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(ev)


@query(
    "q144_feature_service_read",
    sql="""
    WITH labels AS (
      SELECT user_id, epoch_us(ts) AS us, event_id
      FROM events WHERE event_type = 'purchase'
    ), ua AS (
      SELECT user_id, epoch_us(ts) AS us, 0 AS src, event_id,
             value AS fval
      FROM events WHERE event_type <> 'purchase'
      UNION ALL SELECT user_id, us, 1, event_id, NULL FROM labels
    ), ca AS (
      SELECT *, LAST_VALUE(fval IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY us, src, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
      FROM ua
    ), ra AS (
      SELECT user_id, us, event_id, asof_value FROM ca WHERE src = 1
    ), daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        CAST(COUNT(*) AS BIGINT) AS daily_cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS daily_sum
      FROM events GROUP BY 1, 2
    ), fb AS (
      SELECT user_id,
        epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) AS us,
        0 AS src,
        CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS tb,
        daily_cnt, daily_sum
      FROM daily
    ), ub AS (
      SELECT user_id, us, src, tb, daily_cnt, daily_sum FROM fb
      UNION ALL
      SELECT user_id, us, 1, event_id, NULL, NULL FROM labels
    ), cb AS (
      SELECT *,
        LAST_VALUE(daily_cnt IGNORE NULLS) OVER w AS asof_daily_cnt,
        LAST_VALUE(daily_sum IGNORE NULLS) OVER w AS asof_daily_sum
      FROM ub WINDOW w AS (
        PARTITION BY user_id ORDER BY us, src, tb
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), rb AS (
      SELECT user_id, tb AS event_id, asof_daily_cnt, asof_daily_sum
      FROM cb WHERE src = 1
    )
    SELECT ra.user_id, ra.event_id AS label_key, ra.us AS label_ts_us,
      ra.asof_value, rb.asof_daily_cnt, rb.asof_daily_sum
    FROM ra JOIN rb
      ON ra.user_id = rb.user_id AND ra.event_id = rb.event_id
    """,
)
def q144_feature_service_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-STORE training read (Feast feature-service semantics,
    feast/feature_views.py:220-248): one label frame enriched from TWO
    feature views by chained point-in-time joins — the raw event-value
    view (event-grain, q14's view) and a daily-aggregate view whose rows
    only become available at the FOLLOWING midnight (so a mid-day label
    sees yesterday's daily features — the no-leakage availability
    semantics a feature store exists to enforce; first-day labels get
    NULL).  Each as-of join is the linear union+last_value pattern: two
    entity-partitioned sorts total, no join explosion."""
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    labels = ev.filter(F.col("event_type") == "purchase")
    feat_a = ev.filter(F.col("event_type") != "purchase").withColumnRenamed(
        "value", "fval"
    )
    r1 = asof_join(
        labels,
        feat_a,
        entity_col="user_id",
        label_ts_us="us",
        feature_ts_us="us",
        feature_cols=["fval"],
        label_cols=[],
        tiebreak_col="event_id",
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("daily_cnt"),
        dsum("value").alias("daily_sum"),
    )
    feat_b = daily.select(
        "user_id",
        F.unix_micros(
            F.col("day").cast("timestamp") + F.expr("INTERVAL 1 DAY")
        ).alias("fus"),
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("event_id"),
        "daily_cnt",
        "daily_sum",
    )
    labels2 = r1.select(
        "user_id",
        F.col("label_ts_us").alias("us"),
        F.col("label_key").alias("event_id"),
        F.col("asof_fval").alias("asof_value"),
    )
    r2 = asof_join(
        labels2,
        feat_b,
        entity_col="user_id",
        label_ts_us="us",
        feature_ts_us="fus",
        feature_cols=["daily_cnt", "daily_sum"],
        label_cols=["asof_value"],
        tiebreak_col="event_id",
    )
    return r2.select(
        "user_id",
        F.col("label_key"),
        "label_ts_us",
        "asof_value",
        F.col("asof_daily_cnt"),
        "asof_daily_sum",
    )


@query(
    "q145_fuzzy_name_pairs",
    sql="""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
      CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM names a JOIN names b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 2
    """,
)
def q145_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join (``text.edit_distance_pairs``): part
    name pairs within Levenshtein distance 2, found by SymSpell
    deletion-neighborhood blocking + exact verify.  The ORACLE is the
    quadratic levenshtein join — so the parity gate doubles as an
    empirical completeness proof that the blocking drops no pair."""
    from streaming_feature_store_spark.operators.text import (
        edit_distance_pairs,
    )

    p = _t(spark, sf_dir, "part").select(F.col("p_name").alias("name"))
    out = edit_distance_pairs(p, "name", max_dist=2)
    return out.select("name_a", "name_b", F.col("dist").cast("int"))


@query(
    "q146_data_quality_report",
    sql="""
    WITH base AS (
      SELECT 'discount_above_8pct' AS rule,
        SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS n_violations,
        COUNT(*) AS n_rows FROM lineitem
      UNION ALL
      SELECT 'nonpositive_price',
        SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END), COUNT(*)
      FROM lineitem
      UNION ALL
      SELECT 'null_shipdate',
        SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END), COUNT(*)
      FROM lineitem
      UNION ALL
      SELECT 'quantity_above_45',
        SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END), COUNT(*)
      FROM lineitem
      UNION ALL
      SELECT 'tax_above_7pct',
        SUM(CASE WHEN l_tax > 0.07 THEN 1 ELSE 0 END), COUNT(*)
      FROM lineitem
      UNION ALL
      SELECT 'orphan_lineitem_order',
        SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), COUNT(*)
      FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
    )
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
      CAST(n_rows AS BIGINT) AS n_rows,
      ROUND(n_violations / CAST(n_rows AS DOUBLE), 6) AS violation_rate
    FROM base
    """,
)
def q146_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (``profile.data_quality_report`` +
    ``referential_violations``): five single-scan value/null constraints
    on lineitem plus an orphan-FK check against orders, one report row
    per rule.  The batch restatement of the reference's
    validate-on-consume layer (`streaming/core/models/events.py:12-57`,
    Pydantic field constraints + DLQ counters)."""
    from streaming_feature_store_spark.operators.profile import (
        data_quality_report,
        referential_violations,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    report = data_quality_report(
        li,
        {
            "discount_above_8pct": F.col("l_discount") > 0.08,
            "nonpositive_price": F.col("l_extendedprice") <= 0,
            "null_shipdate": F.col("l_shipdate").isNull(),
            "quantity_above_45": F.col("l_quantity") > 45,
            "tax_above_7pct": F.col("l_tax") > 0.07,
        },
    )
    fk = referential_violations(
        li.select("l_orderkey"),
        orders,
        {"l_orderkey": "o_orderkey"},
        "orphan_lineitem_order",
    )
    return report.unionByName(fk)


@query(
    "q147_returnflag_price_regression",
    sql="""
    WITH m AS (
      SELECT l_returnflag,
        CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
               * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0), 6) AS slope,
      ROUND((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0)) * sx)
        / n, 6) AS intercept,
      ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 6) AS r2
    FROM m
    """,
)
def q147_returnflag_price_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group OLS via exact sufficient statistics: slope / intercept /
    R² of extendedprice ~ quantity per return flag, computed from
    DECIMAL-exact moment sums (n, Σx, Σy, Σx², Σxy, Σy²) so the result
    is bit-identical across engines — Spark's native ``regr_*``
    aggregates accumulate in double and drift by summation order.  The
    moments are one map-side-combined pass; they are also the MERGEABLE
    form (per-partition partials add), which is why this shape survives
    a 100 TB scan where a two-pass covariance would not."""
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d("l_quantity")).cast("double").alias("sx"),
        F.sum(d("l_extendedprice")).cast("double").alias("sy"),
        F.sum(d("l_quantity") * d("l_quantity")).cast("double").alias("sxx"),
        F.sum(d("l_quantity") * d("l_extendedprice"))
        .cast("double")
        .alias("sxy"),
        F.sum(d("l_extendedprice") * d("l_extendedprice"))
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    # NULLIF-guarded denominators: a zero-variance group must yield NULL
    # in BOTH engines (Spark's non-ANSI x/0 is NULL but DuckDB's IEEE
    # division gives Inf/NaN — the guard pins the agreed value)
    den_x = F.nullif(n * sxx - sx * sx, F.lit(0.0))
    slope = (n * sxy - sx * sy) / den_x
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / F.nullif(
                (n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0)
            ),
            6,
        ).alias("r2"),
    )


@query(
    "q148_decay_attribution",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ), j AS (
      SELECT t.event_type, t.us - p.us + 3600000000 AS wi
      FROM e t JOIN e p
        ON t.user_id = p.user_id
       AND p.event_type = 'purchase'
       AND t.event_type <> 'purchase'
       AND t.us >= p.us - 3600000000
       AND t.us < p.us
    ), per AS (
      SELECT event_type, COUNT(*) AS n_touches,
        CAST(SUM(wi) AS BIGINT) AS credit_us
      FROM j GROUP BY event_type
    )
    SELECT event_type, n_touches, credit_us,
      ROUND(credit_us / NULLIF(CAST(SUM(credit_us) OVER () AS DOUBLE), 0.0), 6)
        AS credit_share
    FROM per
    """,
)
def q148_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time-decay attribution: every non-purchase touch within the
    hour before a purchase earns credit proportional to how close it was
    (weight = time remaining in the horizon, in micros).  Cross-engine
    determinism by construction: weights and their sums are EXACT
    INTEGER micros end-to-end (a linear decay kernel keeps the weight in
    integer space, where exp() would differ by an ulp between libms);
    the one division happens once at the presentation edge.  The join is
    the J2 batch interval join (`enrich.interval_join`): equi key +
    residual range, no time binning."""
    from streaming_feature_store_spark.operators.enrich import interval_join

    h = 3_600_000_000
    ev = with_event_micros(_t(spark, sf_dir, "events"))
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "us"
    )
    spans = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        (F.col("us") - h).alias("start_us"),
        F.col("us").alias("end_us"),
    )
    j = interval_join(touches, spans, "user_id", "p_user")
    per = j.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.sum(F.col("us") - F.col("end_us") + h)
        .cast("bigint")
        .alias("credit_us"),
    )
    w_all = Window.partitionBy()
    return per.select(
        "event_type",
        "n_touches",
        "credit_us",
        F.round(
            F.col("credit_us")
            / F.nullif(
                F.sum("credit_us").over(w_all).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("credit_share"),
    )


@query(
    "q149_quarantine_rows",
    sql="""
    WITH tagged AS (
      SELECT l_orderkey, l_quantity,
        RTRIM(
          CASE WHEN l_discount > 0.08 THEN 'discount_above_8pct,' ELSE '' END
          || CASE WHEN l_quantity > 45 THEN 'quantity_above_45,' ELSE '' END
          || CASE WHEN l_tax > 0.07 THEN 'tax_above_7pct,' ELSE '' END,
          ',') AS rules
      FROM lineitem
    )
    SELECT CASE WHEN rules = '' THEN 'CLEAN' ELSE rules END AS rules,
      COUNT(*) AS n_rows,
      MIN(l_orderkey) AS min_okey,
      MAX(l_orderkey) AS max_okey,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM tagged GROUP BY 1
    """,
)
def q149_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine ROUTING end-to-end (``profile.split_violations`` —
    VERDICT r6 next-item #6): where q146 only counts violations, this
    query consumes BOTH split outputs — the quarantined rows grouped by
    their exact ``violated_rules`` combination (count, orderkey range,
    quantity mass per combination) plus one 'CLEAN' row aggregated from
    the clean side, so the oracle pins the routed ROWS themselves, not
    just the report counters.  Rule-tag order in the combination string
    is the rules-dict insertion order on both engines.  Plan: the tag
    array is a zero-shuffle projection; the only shuffle is the final
    bounded groupBy (≤ 2^|rules| combination keys)."""
    from streaming_feature_store_spark.operators.profile import (
        split_violations,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_discount", "l_tax"
    )
    clean, bad = split_violations(
        li,
        {
            "discount_above_8pct": F.col("l_discount") > 0.08,
            "quantity_above_45": F.col("l_quantity") > 45,
            "tax_above_7pct": F.col("l_tax") > 0.07,
        },
    )
    aggs = [
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("min_okey"),
        F.max("l_orderkey").alias("max_okey"),
        dsum("l_quantity").alias("sum_qty"),
    ]
    badg = bad.groupBy(
        F.array_join("violated_rules", ",").alias("rules")
    ).agg(*aggs)
    cleang = clean.agg(*aggs).select(
        F.lit("CLEAN").alias("rules"),
        "n_rows",
        "min_okey",
        "max_okey",
        "sum_qty",
    )
    return badg.unionByName(cleang)


@query(
    "q150_bpe_merges",
    sql=r"""
    WITH RECURSIVE
    tok AS (
      SELECT unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS w
      FROM documents
    ),
    wf AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w),
    init AS (
      SELECT regexp_replace(w, '(.)', '(\1)', 'g') || '(</w>)' AS s, freq
      FROM wf
    ),
    seg(iter, s, freq, ml, mr) AS (
      SELECT 0, s, freq, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM init
      UNION ALL
      SELECT iter + 1,
        replace(s, '(' || best.a || ')(' || best.b || ')',
                '(' || best.a || best.b || ')'),
        freq, best.a, best.b
      FROM seg,
        (SELECT a, b FROM (
           SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS cnt
           FROM (SELECT string_split(trim(s, '()'), ')(') AS l, freq
                 FROM seg),
                UNNEST(range(1, len(l))) AS t(i)
           GROUP BY 1, 2)
         ORDER BY cnt DESC, a, b LIMIT 1) best
      WHERE iter < 30
    )
    SELECT DISTINCT CAST(iter - 1 AS INT) AS rank, ml AS lhs, mr AS rhs
    FROM seg WHERE iter > 0 ORDER BY rank
    """,
)
def q150_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-BPE trainer parity (VERDICT r6 next-item #7): train 30
    merges on the FULL documents corpus (``tokenize.train_bpe`` with
    ``sample_docs=None`` — the word-frequency table is a distributed
    groupBy; only the |vocab|-bounded merge loop is driver-side) and
    return the ordered merge table.  The DuckDB twin replays the exact
    training algorithm as a recursive CTE: words as
    wrapped-symbol strings ``(h)(e)(l)(l)(o)(</w>)``, each round
    extracting adjacent-pair counts by unnesting the symbol lists,
    selecting argmax with the same (count DESC, pair ASC) tie-break,
    and merging via ``replace`` — whose all-occurrences left-to-right
    non-overlap semantics equal BPE's greedy merge (verified on the
    ``(a)(a)(a)`` chain case).  Symbols never contain ``)(`` so the
    wrapped pair pattern cannot false-match inside a symbol."""
    from streaming_feature_store_spark.operators.tokenize import train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=30, sample_docs=None)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, lhs string, rhs string",
    )


_Q151_MERGES = [
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("a", "n"), ("an", "d"),
    ("and", "</w>"), ("i", "n"), ("e", "r"), ("o", "u"), ("er", "</w>"),
    ("in", "g"), ("ing", "</w>"),
]


@query(
    "q151_bpe_token_counts",
    sql=r"""
    WITH RECURSIVE
    m(rank, lhs, rhs) AS (VALUES
      (0,'t','h'), (1,'th','e'), (2,'the','</w>'), (3,'a','n'),
      (4,'an','d'), (5,'and','</w>'), (6,'i','n'), (7,'e','r'),
      (8,'o','u'), (9,'er','</w>'), (10,'in','g'), (11,'ing','</w>')),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS w
      FROM documents
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok WHERE w <> '' GROUP BY 1, 2),
    dw AS (SELECT DISTINCT w FROM wc),
    ap(w, l, iter) AS (
      SELECT w,
        string_split(trim(regexp_replace(w, '(.)', '(\1)', 'g')
                          || '(</w>)', '()'), ')('),
        0
      FROM dw
      UNION ALL
      SELECT w,
        l[1:best.i-1] || [l[best.i] || l[best.i+1]] || l[best.i+2:],
        iter + 1
      FROM ap,
        LATERAL (SELECT i FROM (
            SELECT t.i AS i, m.rank AS rank
            FROM UNNEST(range(1, len(l))) AS t(i)
            JOIN m ON m.lhs = l[t.i] AND m.rhs = l[t.i+1])
          ORDER BY rank, i LIMIT 1) best
    ),
    fin AS (
      SELECT w, len(l) AS ntok
      FROM (SELECT w, l, iter, MAX(iter) OVER (PARTITION BY w) AS mx
            FROM ap)
      WHERE iter = mx
    ),
    agg AS (
      SELECT wc.doc_id, CAST(SUM(wc.c * fin.ntok) AS BIGINT) AS n
      FROM wc JOIN fin USING (w) GROUP BY 1
    )
    SELECT d.doc_id, COALESCE(agg.n, 0) AS n_bpe_tokens
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
)
def q151_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE APPLY parity (companion to q150's trainer
    parity): encode every document with a FIXED spec-defined merge
    table (``_Q151_MERGES`` — rank IS priority) via the memoized
    Arrow kernel (``tokenize.bpe_encode``) and return per-doc subword
    token counts.  The DuckDB twin replays the exact greedy apply loop
    as a per-distinct-word recursive CTE: each round joins the word's
    adjacent symbol pairs to the merge table, picks the lowest
    (rank, position) candidate — the module's leftmost-lowest-rank
    rule — and splices that single occurrence, terminating when no
    pair is in the table; per-doc counts then come from the word-count
    relation, mirroring the kernel's per-word memoization."""
    from streaming_feature_store_spark.operators.tokenize import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, _Q151_MERGES).select(
        "doc_id", "n_bpe_tokens"
    )


@query(
    "q152_bm25_topk",
    sql=r"""
    WITH q(query_id, query_text) AS (VALUES
      ('q1', 'hash join strategy'), ('q2', 'window batch stream'),
      ('q3', 'customer order data'), ('q4', 'vector scan filter')),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS dfr FROM tf GROUP BY 1),
    qt AS (
      SELECT DISTINCT query_id, unnest(string_split_regex(
        lower(regexp_replace(query_text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM q
    ),
    qi AS (
      SELECT query_id, term,
        ln(1.0 + (n_docs - dfr + 0.5) / (dfr + 0.5)) AS idf, avgdl
      FROM qt JOIN dfreq USING (term) CROSS JOIN stats
      WHERE term <> ''
    ),
    sc AS (
      SELECT query_id, doc_id,
        ROUND(SUM(idf * (tf * 2.2)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
      FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, rank FROM (
      SELECT query_id, doc_id, score,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM sc)
    WHERE rank <= 5
    """,
)
def q152_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 retrieval (``text.bm25_topk``) for four fixed
    literal queries over the documents corpus — the lexical ranking half
    of a retrieval/RAG pipeline, beyond the reference's TF-IDF.  Both
    engines evaluate the identical Robertson formula (k1=1.2, b=0.75,
    non-negative ln(1+...) idf) from identical exact integer tf/df/dl
    aggregates; scores are rounded once at the presentation edge and
    ranked with doc-id tiebreaks.  Plan: one corpus tokenize pass; the
    per-(query, term) idf frame broadcasts against tf, so the corpus
    relation shuffles only for its own aggregates."""
    from streaming_feature_store_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [
            ("q1", "hash join strategy"),
            ("q2", "window batch stream"),
            ("q3", "customer order data"),
            ("q4", "vector scan filter"),
        ],
        "query_id string, query_text string",
    )
    return bm25_topk(docs, qdf, k=5)


@query(
    "q153_dsir_weights",
    sql=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY 1, 2),
    sc AS (SELECT term, SUM(tf) AS s_c FROM tf GROUP BY 1),
    ttok AS (
      SELECT unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM documents WHERE lang = 'en'
    ),
    tc AS (SELECT term, COUNT(*) AS t_c FROM ttok
           WHERE term <> '' GROUP BY 1),
    vocab AS (
      SELECT COALESCE(sc.term, tc.term) AS term,
             COALESCE(s_c, 0) AS s_c, COALESCE(t_c, 0) AS t_c
      FROM sc FULL OUTER JOIN tc ON sc.term = tc.term
    ),
    tot AS (SELECT SUM(s_c) AS s_tot, SUM(t_c) AS t_tot,
                   COUNT(*) AS v FROM vocab),
    ratio AS (
      SELECT term,
        ln((t_c + 0.5) / (t_tot + 0.5 * v))
        - ln((s_c + 0.5) / (s_tot + 0.5 * v)) AS log_ratio
      FROM vocab CROSS JOIN tot
    )
    SELECT tf.doc_id,
      CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      ROUND(SUM(tf.tf * ratio.log_ratio), 6) AS log_weight
    FROM tf JOIN ratio USING (term)
    GROUP BY 1
    """,
)
def q153_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (``curation.importance_weights``):
    per-document unigram log-ratio of the English-target distribution vs
    the raw corpus (add-0.5 smoothing over the union vocabulary) — the
    data-selection scoring stage of an importance-resampling mixture
    pipeline (resampling itself reuses the already-oracled weighted
    samplers).  The DuckDB twin replays the same smoothed count algebra
    from the same exact integer aggregates; the only doubles are the two
    ln() terms, and the weight is rounded once at the presentation
    edge."""
    from streaming_feature_store_spark.operators.curation import (
        importance_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    return importance_weights(docs, docs.filter(F.col("lang") == "en"))


@query(
    "q154_k_anonymize",
    sql="""
    WITH q AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
        CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band
      FROM customer
    ), sized AS (
      SELECT *, COUNT(*) OVER (
        PARTITION BY c_nationkey, c_mktsegment, bal_band) AS qi_group_n
      FROM q
    )
    SELECT c_custkey, c_nationkey, c_mktsegment, bal_band, qi_group_n
    FROM sized WHERE qi_group_n >= 5
    """,
)
def q154_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (``profile.k_anonymize``, k=5) of the
    customer table on the quasi-identifier (nation, market segment,
    account-balance band) — the privacy gate a training-data release
    runs so no released row is joinable to fewer than 5 candidates.
    One window shuffle; NULL-safe group semantics match the oracle's
    window partitioning by construction."""
    from streaming_feature_store_spark.operators.profile import k_anonymize

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
    )
    return k_anonymize(cust, ["c_nationkey", "c_mktsegment", "bal_band"], k=5)


@query(
    "q155_snapshot_diff",
    sql="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-06-01'
    ), new AS (
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderpriority = '1-URGENT'
             THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_custkey % 97 <> 3
    ), j AS (
      SELECT COALESCE(new.o_orderkey, old.o_orderkey) AS o_orderkey,
        old.o_orderkey IS NULL AS only_new,
        new.o_orderkey IS NULL AS only_old,
        CONCAT_WS(',',
          CASE WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
               THEN 'o_orderstatus' END,
          CASE WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
               THEN 'o_totalprice' END) AS cc
      FROM old FULL OUTER JOIN new USING (o_orderkey)
    )
    SELECT o_orderkey,
      CASE WHEN only_new THEN 'added' WHEN only_old THEN 'removed'
           WHEN cc <> '' THEN 'changed' ELSE 'unchanged' END AS diff_status,
      CASE WHEN only_new OR only_old THEN '' ELSE cc END AS changed_cols
    FROM j
    WHERE NOT (only_new IS FALSE AND only_old IS FALSE AND cc = '')
    """,
)
def q155_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (``history.snapshot_diff``) between two loads
    of the orders table — the second load extends the date horizon
    (added), drops one customer shard (removed), and restates urgent
    orders' totals (changed, with the column named in ``changed_cols``).
    The mutation is an exact double addition, so both engines compare
    identical IEEE values; one full-outer join, codegen everywhere
    else."""
    from streaming_feature_store_spark.operators.history import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < "1997-06-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        orders.filter(
            (F.col("o_orderdate") < "1998-01-01")
            & (F.col("o_custkey") % 97 != 3)
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.col("o_totalprice") + 1000.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"])


@query(
    "q156_kmeans_lloyd_step",
    sql="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
      SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cc
      FROM (SELECT vec_id, v,
              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
      WHERE rn <= 8
    ), scored AS (
      SELECT e.vec_id, centroid_id,
        ROUND(list_dot_product(e.v, e.v)
              - 2 * list_dot_product(e.v, cv) + cc, 6) AS dist2
      FROM e CROSS JOIN c
    ), assigned AS (
      SELECT vec_id, centroid_id AS cluster_id,
        ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist2, centroid_id) AS rk
      FROM scored
    ), members AS (
      SELECT a.cluster_id, unnest(e.v) AS x,
             generate_subscripts(e.v, 1) - 1 AS dim_pos
      FROM assigned a JOIN e USING (vec_id) WHERE a.rk = 1
    )
    SELECT cluster_id, dim_pos,
      ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
        AS centroid_val,
      COUNT(*) AS n_members
    FROM members GROUP BY 1, 2
    """,
)
def q156_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd k-means iteration over the embedding corpus
    (``similarity.kmeans_lloyd_step``, k=8, lowest-id seeding): nearest-
    centroid assignment then per-dimension DECIMAL-EXACT member means —
    the order-independent centroid update both engines reproduce
    bit-for-bit (the audit/resume kernel; MLlib ``train_centroids``
    drives full training at scale)."""
    from streaming_feature_store_spark.operators.similarity import (
        kmeans_lloyd_step,
    )

    return kmeans_lloyd_step(_t(spark, sf_dir, "embeddings"), k=8)


_Q157_INTERLEAVE = " + ".join(
    f"(((zp >> {b}) & 1) << {2 * b}) + (((zq >> {b}) & 1) << {2 * b + 1})"
    for b in range(8)
)


@query(
    "q157_zorder_key",
    sql=f"""
    WITH st AS (
      SELECT MIN(l_extendedprice) AS mnp, MAX(l_extendedprice) AS mxp,
             MIN(l_quantity) AS mnq, MAX(l_quantity) AS mxq
      FROM lineitem
    ), cells AS (
      SELECT l_orderkey, l_linenumber,
        LEAST(255, CAST(FLOOR(
          (l_extendedprice - mnp) / (mxp - mnp) * 256) AS BIGINT))
          AS zp,
        LEAST(255, CAST(FLOOR(
          (CAST(l_quantity AS DOUBLE) - mnq) / (mxq - mnq) * 256) AS BIGINT))
          AS zq
      FROM lineitem CROSS JOIN st
    )
    SELECT l_orderkey, l_linenumber,
      zp AS zr_price, zq AS zr_qty,
      {_Q157_INTERLEAVE} AS zkey
    FROM cells
    ORDER BY zkey, l_orderkey, l_linenumber
    LIMIT 60
    """,
)
def q157_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over lineitem's (price, quantity)
    grid (``layout.zorder_rank`` + ``layout.zorder_key``, 8 bits/dim):
    the multi-dimensional clustering key whose range partitioning gives
    parquet min/max pruning on BOTH columns — Delta's OPTIMIZE ZORDER
    restated as pure codegen bit math. The first 60 keys in (zkey, row)
    order pin the interleave and the equal-width grid cells exactly;
    the write-side clustering itself is ``layout.cluster_by_zorder``."""
    from streaming_feature_store_spark.operators.layout import (
        zorder_key,
        zorder_rank,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    ranked = zorder_rank(li, ["l_extendedprice", "l_quantity"], bits=8)
    return (
        ranked.withColumn(
            "zkey",
            zorder_key(["_zr_l_extendedprice", "_zr_l_quantity"], bits=8),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("_zr_l_extendedprice").alias("zr_price"),
            F.col("_zr_l_quantity").alias("zr_qty"),
            "zkey",
        )
        .orderBy("zkey", "l_orderkey", "l_linenumber")
        .limit(60)
    )


def _q158_sql() -> str:
    import math

    from streaming_feature_store_spark.operators.similarity import (
        projection_signs,
    )

    inv = 1.0 / math.sqrt(8)
    rows = ", ".join(
        f"({j}, {s})"
        for j, s in enumerate(projection_signs(64, 8, seed=0))
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), m(j, s) AS (VALUES {rows})
    SELECT vec_id, CAST(j AS INT) AS dim_pos,
      ROUND(list_dot_product(v, s) * {inv!r}, 6) AS comp
    FROM e CROSS JOIN m
    """


@query("q158_random_projection", sql=_q158_sql())
def q158_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection of the 64-dim embedding
    corpus to 8 components (``similarity.random_projection``, Achlioptas
    ±1 matrix regenerated from md5 — no stored state): the
    dimensionality-reduction front end that makes LSH/IVF distance
    evaluations ~dim/out_dim cheaper at 100 TB. Both engines fold the
    identical literal sign arrays against the identical double vectors;
    components are rounded once at the presentation edge."""
    from streaming_feature_store_spark.operators.similarity import (
        random_projection,
    )

    proj = random_projection(
        _t(spark, sf_dir, "embeddings"), dim=64, out_dim=8, seed=0
    )
    return proj.select(
        "vec_id", F.posexplode("embedding").alias("dim_pos", "_c")
    ).select("vec_id", "dim_pos", F.round("_c", 6).alias("comp"))


@query(
    "q159_cohort_retention",
    sql="""
    WITH up AS (
      SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS pidx
      FROM events
    ), first AS (
      SELECT u, MIN(pidx) AS cohort FROM up GROUP BY 1
    ), cells AS (
      SELECT cohort, pidx - cohort AS period_offset,
             COUNT(*) AS active_users
      FROM up JOIN first USING (u) GROUP BY 1, 2
    ), sized AS (
      SELECT *, MAX(CASE WHEN period_offset = 0 THEN active_users END)
        OVER (PARTITION BY cohort) AS cohort_size
      FROM cells
    )
    SELECT 'W' || CAST(cohort AS VARCHAR) AS cohort_period,
      CAST(period_offset AS INT) AS period_offset,
      active_users, cohort_size,
      ROUND(active_users / CAST(cohort_size AS DOUBLE), 6) AS retention_rate
    FROM sized
    """,
)
def q159_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (``behavior.cohort_retention``):
    users bucketed by first-activity epoch-week, counted in each later
    week they return — the lifecycle rollup downstream of the reference's
    per-session features.  Periods are exact integer week indices
    (epoch-micros integer-div one week), counts are exact, and the rate
    divides two counts once at the presentation edge.  Plan: two
    ``user_id`` shuffles (distinct user-weeks, first week) and one on the
    tiny (cohort, offset) key — no window ever touches raw events."""
    from streaming_feature_store_spark.operators.behavior import (
        cohort_retention,
    )

    return cohort_retention(
        _t(spark, sf_dir, "events"), grain="week"
    )


@query(
    "q160_rfm_segments",
    sql=f"""
    WITH pc AS (
      SELECT o_custkey AS cust,
        date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                  DATE '1998-12-31') AS recency_days,
        COUNT(*) AS frequency,
        {_DSUM.format(c='o_totalprice')} AS monetary
      FROM orders GROUP BY 1
    ), s AS (
      SELECT *,
        CAST(NTILE(5) OVER (ORDER BY recency_days DESC, cust) AS INT)
          AS r_score,
        CAST(NTILE(5) OVER (ORDER BY frequency ASC, cust) AS INT)
          AS f_score,
        CAST(NTILE(5) OVER (ORDER BY monetary ASC, cust) AS INT)
          AS m_score
      FROM pc
    )
    SELECT cust, recency_days, frequency, ROUND(monetary, 2) AS monetary,
      r_score, f_score, m_score,
      CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        || CAST(m_score AS VARCHAR) AS rfm_segment
    FROM s
    """,
)
def q160_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile scoring (``behavior.rfm_scores``): recency in exact
    integer days to a fixed anchor, order count, decimal-exact spend,
    each scored 1-5.  The oracle's plain ``NTILE`` is a single-partition
    window; the Spark side computes the IDENTICAL assignment with the
    distributed ntile (range-partitioned local ranks + #partitions-bounded
    offset collect + the exact SQL NTILE bucket formula) — the q138
    zipWithIndex construction promoted to a quantile operator, so the
    10⁹-customer frame never funnels through one task."""
    from streaming_feature_store_spark.operators.behavior import rfm_scores

    return rfm_scores(_t(spark, sf_dir, "orders"))


@query(
    "q161_target_encoding",
    sql="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, c_mktsegment,
        (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) % 4
          AS fold
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), cf AS (
      SELECT c_mktsegment, fold,
        SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s,
        COUNT(o_totalprice) AS c
      FROM base GROUP BY 1, 2
    ), enc AS (
      SELECT c_mktsegment, fold,
        SUM(s) OVER (PARTITION BY c_mktsegment) - s AS s_oof,
        SUM(c) OVER (PARTITION BY c_mktsegment) - c AS c_oof
      FROM cf
    ), tot AS (SELECT SUM(s) AS st, SUM(c) AS ct FROM cf)
    SELECT b.o_orderkey, b.c_mktsegment, CAST(b.fold AS INT) AS fold,
      ROUND((CAST(e.s_oof AS DOUBLE)
             + 20.0 * (CAST(t.st AS DOUBLE) / t.ct))
            / (e.c_oof + 20.0), 6) AS seg_target_enc
    FROM base b
    JOIN enc e ON b.c_mktsegment = e.c_mktsegment AND b.fold = e.fold
    CROSS JOIN tot t
    """,
)
def q161_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe out-of-fold target encoding
    (``ml.training.target_encode_oof``): each order's market segment
    encoded as the smoothed mean ``o_totalprice`` of the OTHER md5-folds
    of its segment — the CatBoost-style categorical encoder a training
    pipeline runs between the feature store and the model.  All sums stay
    DECIMAL through the window subtraction (see the operator docstring:
    double window-sums of 10⁹-scale totals drift past a 6 dp round); the
    encoding table is cardinality-bounded so AQE broadcasts it back to
    the fact side — the 100 TB side never reshuffles."""
    from streaming_feature_store_spark.ml.training import target_encode_oof

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    base = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "o_totalprice", "c_mktsegment")
    encoded = target_encode_oof(
        base, "c_mktsegment", "o_totalprice", "o_orderkey",
        n_folds=4, smoothing=20.0,
    )
    return encoded.select(
        "o_orderkey",
        "c_mktsegment",
        "fold",
        F.round("c_mktsegment_target_enc", 6).alias("seg_target_enc"),
    )


@query(
    "q162_embargo_split",
    sql=f"""
    SELECT
      CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
           WHEN ts < TIMESTAMP '2024-01-23 00:00:00' THEN 'embargo'
           ELSE 'test' END AS split,
      event_type,
      COUNT(*) AS n_events,
      {_DSUM6.format(c='value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q162_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged time-series split (``ml.training.time_split_embargo``):
    train before the cutoff, a 3-day embargo gap excluded from both sides
    (the de Prado purge against boundary label leakage), test after —
    verified here by the per-split per-type row and value totals.  The
    split column is a pure codegen predicate that pushes to a
    time-partitioned scan; no shuffle beyond the check aggregate."""
    from streaming_feature_store_spark.ml.training import time_split_embargo

    ev = time_split_embargo(
        _t(spark, sf_dir, "events"), "ts",
        "2024-01-20 00:00:00", "3 days",
    )
    return ev.groupBy("split", "event_type").agg(
        F.count("*").alias("n_events"),
        dsum("value", 6).alias("sum_value"),
    )


@query(
    "q163_part_triangles",
    sql="""
    WITH lp AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem WHERE l_partkey % 10 = 0
    ), e AS (
      SELECT DISTINCT a.p AS x, b.p AS y
      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ), tri AS (
      SELECT e1.x AS a, e1.y AS b, e2.y AS c
      FROM e e1
      JOIN e e2 ON e2.x = e1.y
      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
    ), nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), cnt AS (
      SELECT node, COUNT(*) AS triangles FROM nodes GROUP BY 1
    ), deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e
      ) GROUP BY 1
    )
    SELECT node, triangles, deg FROM cnt JOIN deg USING (node)
    ORDER BY triangles DESC, node LIMIT 20
    """,
)
def q163_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (``graph.triangle_counts``) on the co-purchase
    graph (parts co-occurring in an order, 10 % part slice) — the
    clique-density signal fraud/community analyses compute beyond
    PageRank.  The oracle enumerates a<b<c directly; the Spark side runs
    the degree-ORIENTED construction (Suri & Vassilvitskii 2011): every
    out-degree is O(√m), so wedge work is the minimum Σ outdeg² and a
    celebrity hub cannot materialize a quadratic neighborhood.  Three
    shuffles, all on ids."""
    from streaming_feature_store_spark.operators.graph import triangle_counts

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 10 == 0)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = li.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        li.join(b, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return (
        triangle_counts(edges)
        .orderBy(F.desc("triangles"), "node")
        .limit(20)
    )


@query(
    "q164_user_value_ewma",
    sql="""
    WITH ordered AS (
      SELECT user_id,
        list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs,
        COUNT(value) AS n_points
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_points,
      ROUND(list_reduce(xs, (acc, x) -> 0.5 * acc + 0.5 * x), 6) AS ewma
    FROM ordered
    """,
)
def q164_user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of the event value series
    (``windows.ewma_latest``, α=0.5): the exact recurrence evaluated as a
    pinned-order left fold — Spark's ``F.aggregate`` seeded with the first
    element, DuckDB's ``list_reduce`` — so both engines execute the
    identical IEEE op sequence and agree bit-for-bit before the single
    presentation-edge round.  One groupBy shuffle; per-key state is the
    value buffer (``last_n`` truncates it at scale with sub-ulp error)."""
    from streaming_feature_store_spark.operators.windows import ewma_latest

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ewma_latest(
        ev, "user_id", "ts", "value", alpha=0.5, tiebreak_col="event_id"
    )


@query(
    "q165_semantic_dedup",
    sql=f"""
    WITH {_TWIN_SQL}, cseed AS (
      SELECT vec_id AS centroid_id, v AS cv, list_dot_product(v, v) AS cc
      FROM (SELECT vec_id, v,
              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM corpus)
      WHERE rn <= 8
    ), scored AS (
      SELECT c.vec_id, centroid_id,
        ROUND(list_dot_product(c.v, c.v)
              - 2 * list_dot_product(c.v, cv) + cc, 6) AS dist2
      FROM corpus c CROSS JOIN cseed
    ), assigned AS (
      SELECT vec_id, centroid_id AS cluster_id,
        ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist2, centroid_id) AS rk
      FROM scored
    ), av AS (
      SELECT a.vec_id, a.cluster_id, e.v
      FROM assigned a JOIN corpus e USING (vec_id) WHERE a.rk = 1
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM av a JOIN av b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.95
    )
    SELECT av.vec_id, av.cluster_id,
      (d.vec_id IS NOT NULL) AS dropped
    FROM av LEFT JOIN dropped d ON av.vec_id = d.vec_id
    """,
)
def q165_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (``similarity.semantic_dedup``, Abbas et al. 2023) over
    the planted-twin corpus: k-means clustering confines the quadratic
    cosine check to within-cluster work (Σ|cluster|² instead of
    corpus-wide O(n²)); a vector is dropped iff some lower-id
    cluster-mate reaches cosine 0.95 — the paper's exact, order-
    independent keep rule.  Runs the per-cluster GEMM kernel (the scale
    path — 3-8x faster and stable vs the codegen pair join, see the
    operator docstring A/B); the oracle replays clustering (lowest-id
    seeding, rounded dist², id tiebreaks) and the drop rule verbatim.
    The kernels differ only in dot-product summation order, and no twin-
    corpus pair sits within 1e-3 of the threshold (twins ≈0.9985,
    non-dups far below), so the cross-engine comparison is margin-safe
    (and additionally pinned by the join-kernel agreement test)."""
    from streaming_feature_store_spark.operators.similarity import (
        semantic_dedup,
    )

    corpus = _twin_corpus(spark, sf_dir)
    # k scales with the corpus (the paper's regime: clusters of ~10^3),
    # because within-cluster work is n^2/k — a FIXED k is quadratic in n
    # (measured: k=8 on the join kernel at the 100k-vector sf1.0 corpus
    # cost 149 s median; adaptive k + the GEMM kernel returns it to
    # seconds).  EAGER count at plan-construction time (the
    # negative_sample bounded-collect class, documented); at the sf0.01
    # oracle gate the corpus is 1 000 vectors so k stays EXACTLY 8 and
    # the fixed-k SQL twin is unchanged.
    k = max(8, corpus.count() // 1000)
    return semantic_dedup(corpus, k=k, threshold=0.95, kernel="arrow")


@query(
    "q166_hashed_feature_buckets",
    sql="""
    WITH c AS (
      SELECT event_type || ':' || CAST(user_id % 100 AS VARCHAR)
        AS cross_val
      FROM events
    ), h AS (
      SELECT cross_val,
        substr(md5(cross_val || 'x1'), 1, 4) AS hx
      FROM c
    ), b AS (
      SELECT cross_val,
        ((((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) * 16
           + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)) * 16
           + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 256
          AS bucket
      FROM h
    )
    SELECT CAST(bucket AS INT) AS bucket,
      COUNT(*) AS n_events,
      COUNT(DISTINCT cross_val) AS n_crosses
    FROM b GROUP BY 1
    """,
)
def q166_hashed_feature_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (``ml.training.hash_feature_buckets``): the
    (event_type × user-shard) cross feature hashed into 256 stable
    buckets via portable md5 hex-digit arithmetic — no vocabulary, no
    fit step, identical indices in any engine with md5 (Weinberger et
    al. 2009).  Collision pressure is visible as n_crosses > 1.  Pure
    codegen row expression + one aggregate shuffle."""
    from streaming_feature_store_spark.ml.training import (
        hash_feature_buckets,
    )

    ev = _t(spark, sf_dir, "events")
    cross = F.concat_ws(
        ":", F.col("event_type"), (F.col("user_id") % 100)
    )
    return (
        ev.select(
            hash_feature_buckets(cross, 256, salt="x1").alias("bucket"),
            cross.alias("_cv"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("_cv").alias("n_crosses"),
        )
    )


@query(
    "q167_mad_outliers",
    sql="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ), mad AS (
      SELECT e.event_type,
        quantile_cont(abs(e.value - m.med), 0.5) AS mad,
        ANY_VALUE(m.med) AS med
      FROM events e JOIN med m USING (event_type) GROUP BY 1
    )
    SELECT e.event_type,
      ROUND(ANY_VALUE(m.med), 4) AS med,
      ROUND(ANY_VALUE(m.mad), 4) AS mad,
      COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.0 * 1.4826 * m.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      ROUND(CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.0 * 1.4826 * m.mad
                  THEN 1 ELSE 0 END) AS BIGINT)
            / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_rate
    FROM events e JOIN mad m USING (event_type) GROUP BY 1
    """,
)
def q167_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier profile per event type
    (``profile.mad_outlier_stats``, k=3): location AND scale are exact
    interpolated medians (the q52 ``percentile`` ↔ ``quantile_cont``
    convention), so one billion-dollar outlier cannot corrupt the fence
    the way it corrupts a z-score — the robust twin of M3's IQR guard.
    Three aggregate passes; the stats frame is cardinality-bounded and
    joins back by AQE broadcast."""
    from streaming_feature_store_spark.operators.profile import (
        mad_outlier_stats,
    )

    return mad_outlier_stats(
        _t(spark, sf_dir, "events"), "event_type", "value", k=3.0
    )


@query(
    "q168_naive_bayes_langid",
    sql="""
    WITH keyed AS (
      SELECT doc_id, lang, text,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
      FROM documents
    ), train AS (SELECT * FROM keyed WHERE h8 < '80000000'),
    test AS (SELECT * FROM keyed WHERE h8 >= '80000000'),
    ttok AS (
      SELECT doc_id, lang, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM train
    ), cw AS (
      SELECT lang, term, COUNT(*) AS cw FROM ttok
      WHERE term <> '' GROUP BY 1, 2
    ), vocab AS (SELECT DISTINCT term FROM cw),
    classes AS (SELECT lang, COUNT(*) AS docs FROM train GROUP BY 1),
    vs AS (SELECT COUNT(*) AS v FROM vocab),
    dt AS (SELECT SUM(docs) AS dtot, COUNT(*) AS nc FROM classes),
    grid AS (
      SELECT c.lang, vb.term, COALESCE(cw.cw, 0) AS cw
      FROM vocab vb CROSS JOIN (SELECT lang FROM classes) c
      LEFT JOIN cw ON cw.lang = c.lang AND cw.term = vb.term
    ), grid2 AS (
      SELECT *, SUM(cw) OVER (PARTITION BY lang) AS nc_tok FROM grid
    ), logp AS (
      SELECT lang, term, ln((cw + 1.0) / (nc_tok + 1.0 * v)) AS logp
      FROM grid2 CROSS JOIN vs
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split_regex(
          lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
        FROM test
      ) WHERE term <> '' GROUP BY 1, 2
    ), ts AS (
      SELECT tf.doc_id, logp.lang, SUM(tf.tf * logp.logp) AS tok_score
      FROM tf JOIN logp USING (term) GROUP BY 1, 2
    ), pri AS (
      SELECT lang, ln((docs + 1.0) / (dtot + nc)) AS logprior
      FROM classes CROSS JOIN dt
    ), pairs AS (
      SELECT t.doc_id, t.lang AS actual, p.lang AS cand,
        p.logprior + COALESCE(ts.tok_score, 0.0) AS score
      FROM test t CROSS JOIN pri p
      LEFT JOIN ts ON ts.doc_id = t.doc_id AND ts.lang = p.lang
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, cand) AS rk
      FROM pairs
    )
    SELECT doc_id, actual AS lang, cand AS pred_lang,
      (actual = cand) AS is_correct
    FROM ranked WHERE rk = 1
    """,
)
def q168_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language ID trained AS AGGREGATION
    (``text.naive_bayes_langid``): md5-threshold train/test split, the
    model is a vocabulary-bounded (class, term) log-likelihood table
    (Laplace-smoothed, |V| and class totals in-plan as broadcast
    aggregates), scoring is one join + grouped sum + per-doc argmax.
    Mergeable counts = incremental retraining for free; non-Latin test
    docs fall back to prior-only predictions deterministically."""
    from streaming_feature_store_spark.operators.text import (
        naive_bayes_langid,
    )

    return naive_bayes_langid(_t(spark, sf_dir, "documents"))


@query(
    "q169_value_percent_rank",
    sql="""
    SELECT event_id, event_type, value,
      ROUND(PERCENT_RANK() OVER (
        PARTITION BY event_type ORDER BY value), 6) AS pct_rank
    FROM events
    """,
)
def q169_value_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI PERCENT_RANK per event type
    (``behavior.distributed_percent_rank``): the quantile-normalization
    transform for heavy-tailed features.  The oracle's window puts each
    type in one partition; the Spark side decomposes rank into the
    range-partitioned global numbering + tie-group MIN + a broadcast
    per-group (first-row, count) table — bit-identical results
    (including RANK tie semantics and the single-row-group 0.0 pin)
    with no single-partition-per-group stage."""
    from streaming_feature_store_spark.operators.behavior import (
        distributed_percent_rank,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = distributed_percent_rank(ev, "event_type", "value")
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("pct_rank", 6).alias("pct_rank"),
    )


@query(
    "q170_temperature_mixture",
    sql="""
    WITH toks AS (
      SELECT source,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ), tot AS (SELECT SUM(n_tokens) AS t FROM toks),
    sh AS (
      SELECT source, n_tokens, n_tokens / CAST(t AS DOUBLE) AS p
      FROM toks CROSS JOIN tot
    ), qs AS (SELECT SUM(POWER(p, 0.3)) AS qsum FROM sh),
    r AS (
      SELECT source, n_tokens, p, POWER(p, 0.3) / qsum AS q
      FROM sh CROSS JOIN qs
    ), b AS (SELECT *, q / p AS boost FROM r),
    m AS (SELECT MAX(boost) AS mx FROM b)
    SELECT source, n_tokens,
      ROUND(p, 6) AS natural_share,
      ROUND(q, 6) AS tempered_share,
      ROUND(boost / mx, 6) AS keep_rate
    FROM b CROSS JOIN m
    """,
)
def q170_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing
    (``curation.temperature_mixture_rates``, α=0.3): per-source tempered
    shares q ∝ p^α (the mT5/XLM-R low-resource upweighting rule) and the
    downsampling keep-rates that feed ``sample_corpus``'s md5 filter.
    One exact token-count shuffle; everything after is scalar algebra on
    the cardinality-bounded source frame with in-plan broadcast totals."""
    from streaming_feature_store_spark.operators.curation import (
        temperature_mixture_rates,
    )

    return temperature_mixture_rates(
        _t(spark, sf_dir, "documents"), alpha=0.3
    )


@query(
    "q171_token_budget_alloc",
    sql="""
    WITH toks AS (
      SELECT source,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ), tot AS (SELECT SUM(n_tokens) AS w FROM toks),
    quota AS (
      SELECT source, n_tokens,
        CAST((1000000 * n_tokens) // w AS BIGINT) AS base_alloc,
        CAST((1000000 * n_tokens) % w AS BIGINT) AS rem
      FROM toks CROSS JOIN tot
    ), l AS (
      SELECT CAST(1000000 - SUM(base_alloc) AS BIGINT) AS leftover
      FROM quota
    ), rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM quota
    )
    SELECT source, n_tokens, base_alloc,
      CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS extra,
      base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
    FROM rk CROSS JOIN l
    """,
)
def q171_token_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 1M-token training
    budget across sources (``curation.largest_remainder_alloc``): pure
    64-bit integer quotas/remainders, Σ alloc == budget exactly — the
    epochs-per-source planning table a mixture build commits to.  The
    ranking window runs on the cardinality-bounded source frame only."""
    from streaming_feature_store_spark.operators.curation import (
        largest_remainder_alloc,
    )

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    return largest_remainder_alloc(counts, 1_000_000)


@query(
    "q172_calibration_bins",
    sql="""
    WITH base AS (
      SELECT event_id, value AS score,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events
    ), binned AS (
      SELECT *, CAST(NTILE(10) OVER (ORDER BY score, event_id) AS INT)
        AS bin
      FROM base
    )
    SELECT bin, COUNT(*) AS n_rows,
      CAST(SUM(label) AS BIGINT) AS n_pos,
      ROUND(CAST(SUM(CAST(score AS DECIMAL(28,12))) AS DOUBLE)
            / COUNT(*), 6) AS mean_score,
      ROUND(CAST(SUM(label) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
        AS pos_rate
    FROM binned GROUP BY 1
    """,
)
def q172_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram deciles (``ml.training.calibration_bins``):
    rows ranked by score into 10 equal-count bins via the DISTRIBUTED
    exact ntile, then per-bin decimal-exact mean score vs observed
    positive rate — the calibration audit between a scorer and its
    production threshold.  The oracle's NTILE is the single-partition
    window; the Spark side is the q160 machinery, bit-identical."""
    from streaming_feature_store_spark.ml.training import calibration_bins

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return calibration_bins(ev, "score", "label", "event_id", n_bins=10)


@query(
    "q173_cdc_apply",
    sql="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ), ch AS (
      SELECT o_orderkey, o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, 'U' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
      FROM orders WHERE o_orderkey % 50 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             o_totalprice + 500.0, 'U', 3
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'I', 1
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderkey % 11 = 0
    ), win AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY o_orderkey ORDER BY seq DESC, op) AS rk
        FROM ch
      ) WHERE rk = 1
    )
    SELECT COALESCE(b.o_orderkey, w.o_orderkey) AS o_orderkey,
      CASE WHEN w.op IS NULL THEN b.o_orderstatus
           ELSE w.o_orderstatus END AS o_orderstatus,
      CASE WHEN w.op IS NULL THEN b.o_totalprice
           ELSE w.o_totalprice END AS o_totalprice
    FROM base b FULL OUTER JOIN win w ON b.o_orderkey = w.o_orderkey
    WHERE w.op IS NULL OR w.op <> 'D'
    """,
)
def q173_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (``history.apply_cdc``): a synthetic
    Debezium-style changelog (two updates superseding each other by seq,
    deletes, and inserts of post-snapshot orders) merged into the base
    snapshot — max-seq-wins per key, so at-least-once changelog delivery
    is idempotent.  One window over the (small) changelog + one outer
    join; the base is never sorted or windowed."""
    from streaming_feature_store_spark.operators.history import apply_cdc

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderdate") < "1997-01-01 00:00:00"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    k7 = orders.filter(F.col("o_orderkey") % 7 == 0)
    changes = (
        k7.select(
            "o_orderkey", "o_orderstatus",
            (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
            F.lit("U").alias("op"), F.lit(1).alias("seq"),
        )
        .unionAll(
            orders.filter(F.col("o_orderkey") % 50 == 0).select(
                "o_orderkey", "o_orderstatus", "o_totalprice",
                F.lit("D").alias("op"), F.lit(2).alias("seq"),
            )
        )
        .unionAll(
            k7.select(
                "o_orderkey", "o_orderstatus",
                (F.col("o_totalprice") + 500.0).alias("o_totalprice"),
                F.lit("U").alias("op"), F.lit(3).alias("seq"),
            )
        )
        .unionAll(
            orders.filter(
                (F.col("o_orderdate") >= "1997-01-01 00:00:00")
                & (F.col("o_orderkey") % 11 == 0)
            ).select(
                "o_orderkey", "o_orderstatus", "o_totalprice",
                F.lit("I").alias("op"), F.lit(1).alias("seq"),
            )
        )
    )
    return apply_cdc(base, changes, ["o_orderkey"])


@query(
    "q174_user_value_twap",
    sql="""
    WITH r AS (
      SELECT user_id, epoch_us(ts) AS us, value,
        LEAD(epoch_us(ts)) OVER (
          PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    ), d AS (
      SELECT user_id, value,
        COALESCE(nxt, epoch_us(TIMESTAMP '2024-01-31 00:00:00')) - us
          AS dt
      FROM r
    )
    SELECT user_id, COUNT(value) AS n_readings,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)) * dt) AS DOUBLE)
            / SUM(dt), 6) AS twap
    FROM d GROUP BY 1
    """,
)
def q174_user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value
    (``windows.time_weighted_avg``): LOCF-weighted mean for the
    irregularly-sampled series, where the arithmetic mean over-weights
    bursts — the standard TWAP/feature-store time-weighted feature.
    Durations are exact integer micros from one per-key LEAD; the
    weighted sum stays decimal-exact; one partitioned window + one
    aggregate."""
    from streaming_feature_store_spark.operators.windows import (
        time_weighted_avg,
    )

    return time_weighted_avg(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", "value",
        end_ts="2024-01-31 00:00:00",
        tiebreak_col="event_id",
    )


@query(
    "q175_retention_survival",
    sql="""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ), spans AS (
      SELECT user_id, MIN(day) AS f, MAX(day) AS l FROM d GROUP BY 1
    ), se AS (SELECT MAX(l) AS e FROM spans),
    pu AS (
      SELECT l - f AS tenure,
        CASE WHEN l < e THEN 1 ELSE 0 END AS churn
      FROM spans CROSS JOIN se
    ), tc AS (
      SELECT tenure, CAST(SUM(churn) AS BIGINT) AS d_,
             COUNT(*) AS c_
      FROM pu GROUP BY 1
    ), grid AS (
      SELECT gs.t AS tenure, COALESCE(d_, 0) AS d_, COALESCE(c_, 0) AS c_
      FROM (SELECT unnest(generate_series(0, 29)) AS t) gs
      LEFT JOIN tc ON tc.tenure = gs.t
    ), hz AS (
      SELECT tenure, d_,
        CAST(SUM(c_) OVER (ORDER BY tenure DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_
      FROM grid
    ), f2 AS (
      SELECT tenure, n_, d_,
        CASE WHEN n_ > 0 THEN 1.0 - d_ / CAST(n_ AS DOUBLE)
             ELSE 1.0 END AS factor
      FROM hz
    ), fs AS (SELECT list(factor ORDER BY tenure) AS arr FROM f2)
    SELECT CAST(tenure AS INT) AS tenure_day, n_ AS n_at_risk,
      d_ AS churned,
      ROUND(list_reduce(list_slice(arr, 1, tenure + 1),
                        (a, x) -> a * x), 6) AS survival
    FROM f2 CROSS JOIN fs
    """,
)
def q175_retention_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve
    (``behavior.kaplan_meier_retention``): survival over user tenure with
    correct right-censoring (still-active-at-study-end users are not
    churn).  The prefix product S(t) = Π (1 − d/n) folds the day-ordered
    factor array in pinned order (the q164 ``list_reduce`` convention) so
    both engines agree bit-for-bit; after two fact shuffles everything
    runs on a 30-row calendar-bounded frame."""
    from streaming_feature_store_spark.operators.behavior import (
        kaplan_meier_retention,
    )

    return kaplan_meier_retention(
        _t(spark, sf_dir, "events"), horizon_days=30
    )


def _hex_poly_sql(md5_expr: str, start: int, n: int) -> str:
    """SQL for the integer value of n hex digits of md5_expr (DuckDB has
    no conv(); positional strpos arithmetic matches Spark's conv exactly)."""
    e = "0"
    for i in range(n):
        d = (
            f"(strpos('0123456789abcdef', "
            f"substr({md5_expr}, {start + i}, 1)) - 1)"
        )
        e = f"({e} * 16 + {d})"
    return e


def _q176_sql() -> str:
    tables = {
        "orders": ["o_orderkey", "o_custkey", "o_orderstatus",
                   "o_orderpriority"],
        "customer": ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
        "lineitem": ["l_orderkey", "l_linenumber", "l_returnflag",
                     "l_linestatus"],
    }
    parts = []
    for t, cols in tables.items():
        rend = " || chr(31) || ".join(
            f"COALESCE(CAST({c} AS VARCHAR), chr(0) || 'NULL')"
            for c in cols
        )
        poly = _hex_poly_sql(f"md5({rend})", 1, 8)
        parts.append(
            f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows, "
            f"CAST(SUM(CAST({poly} AS HUGEINT)) % 1000000000000000000 "
            f"AS BIGINT) AS checksum FROM {t}"
        )
    return " UNION ALL ".join(parts)


@query("q176_table_checksums", sql=_q176_sql())
def q176_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine table checksums (``profile.table_checksum``) for
    orders/customer/lineitem over their integer/string columns — the
    migration-audit primitive: any engine with md5 reproduces the same
    single row per table, so a reference-to-Spark cutover can prove the
    copied data identical without moving it again.  Order-independent
    commutative digest sum; one map-combined aggregate per table.
    (Doubles are excluded by design — engines disagree on float→string
    rendering; checksum doubles via an explicit decimal cast.)"""
    from streaming_feature_store_spark.operators.profile import (
        table_checksum,
    )

    tables = {
        "orders": ["o_orderkey", "o_custkey", "o_orderstatus",
                   "o_orderpriority"],
        "customer": ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
        "lineitem": ["l_orderkey", "l_linenumber", "l_returnflag",
                     "l_linestatus"],
    }
    out = None
    for t, cols in tables.items():
        cs = table_checksum(_t(spark, sf_dir, t), cols).select(
            F.lit(t).alias("table_name"), "n_rows", "checksum"
        )
        out = cs if out is None else out.unionAll(cs)
    return out


def _q177_sql() -> str:
    lat_poly = _hex_poly_sql("md5(CAST(event_id AS VARCHAR))", 1, 4)
    lon_poly = _hex_poly_sql("md5(CAST(event_id AS VARCHAR))", 5, 4)
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
        ({lat_poly} % 1800) / 10.0 - 90.0 AS lat,
        ({lon_poly} % 3600) / 10.0 - 180.0 AS lon
      FROM events
    ), lagged AS (
      SELECT *,
        LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
        LAG(us) OVER w AS pus
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), d AS (
      SELECT user_id,
        2.0 * 6371.0 * asin(least(sqrt(
          sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
          + cos(radians(plat)) * cos(radians(lat))
            * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
        ), 1.0)) AS dist,
        (us - pus) / 1000000.0 AS gap_s,
        pus
      FROM lagged
    )
    SELECT user_id, COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN pus IS NOT NULL AND (
          (gap_s = 0 AND dist > 0.001)
          OR (gap_s > 0 AND dist / (gap_s / 3600.0) > 800.0)
        ) THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM d GROUP BY 1
    """


@query("q177_impossible_travel", sql=_q177_sql())
def q177_impossible_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impossible-travel detection (``geo.impossible_travel``): per-user
    counts of consecutive-event pairs whose implied speed over the
    haversine distance exceeds 800 km/h — the account-takeover geo signal
    the reference's velocity clamp (transaction.py:91) stops short of.
    Event coordinates are derived deterministically from md5(event_id)
    (the corpus carries no geo columns); the trig is pure codegen over
    one per-user LAG window.  Output is counts only, so the cross-engine
    comparison never hashes a raw trig double."""
    from streaming_feature_store_spark.operators.geo import (
        impossible_travel,
    )

    ev = _t(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string"))
    lat = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 1800
    ) / 10.0 - 90.0
    lon = (
        F.conv(F.substring(h, 5, 4), 16, 10).cast("long") % 3600
    ) / 10.0 - 180.0
    pts = ev.select(
        "user_id", "event_id", "ts",
        lat.alias("lat"), lon.alias("lon"),
    )
    flagged = impossible_travel(
        pts, "user_id", "ts", "lat", "lon",
        max_speed_kmh=800.0, tiebreak_col="event_id",
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("impossible_travel").cast("long")).alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# Round-7 batch 7 — evaluation, robust stats, sequences, join breadth
# ---------------------------------------------------------------------------


@query(
    "q178_grouped_auc",
    sql="""
    WITH r AS (
      SELECT CAST(vec_id % 3 AS BIGINT) AS segment,
             CAST(embedding[2] AS DOUBLE) AS s,
             label % 2 AS y
      FROM embeddings
    ), rk AS (
      SELECT segment, y,
        RANK() OVER (PARTITION BY segment ORDER BY s)
          + (COUNT(*) OVER (PARTITION BY segment, s) - 1) / 2.0 AS ar
      FROM r
    ), a AS (
      SELECT segment,
        CAST(SUM(CASE WHEN y = 1 THEN CAST(ar AS DECIMAL(38,1)) END)
             AS DOUBLE) AS rpos,
        CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM rk GROUP BY segment
    )
    SELECT segment, n_pos, n_neg,
      ROUND((rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
    FROM a
    """,
)
def q178_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC per segment (``ml.training.distributed_auc``): the
    Mann-Whitney rank-sum identity with average-rank ties, rank sums in
    DECIMAL(38,1).  The oracle's RANK() window puts each segment in one
    partition; the Spark side decomposes rank through the range-
    partitioned global numbering (q169's machinery) — bit-identical AUC
    with no single-partition sort, the scoring-eval metric the
    reference's offline evaluator (ml/evaluate.py) reads from sklearn."""
    from streaming_feature_store_spark.ml.training import distributed_auc

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 3).cast("long").alias("segment"),
        F.element_at("embedding", 2).cast("double").alias("score"),
        (F.col("label") % 2).alias("y"),
    )
    return distributed_auc(emb, "score", "y", group_col="segment")


@query(
    "q179_weighted_median_price",
    sql="""
    WITH pa AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, v, w,
        SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cw,
        SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM pa
    )
    SELECT l_returnflag, v AS weighted_median,
      CAST(tot AS DOUBLE) AS total_weight
    FROM c
    WHERE CAST(cw AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE)
      AND CAST(cw - w AS DOUBLE) < 0.5 * CAST(tot AS DOUBLE)
    """,
)
def q179_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag
    (``profile.weighted_quantile``): running weight mass in exact
    DECIMAL(18,4) via the distributed prefix scan
    (``behavior.distributed_prefix_agg``) — range-partitioned local
    cumsums lifted by broadcast cross-partition offsets, no
    single-partition-per-group window.  The oracle's windowed cumsum
    sees identical decimals, so both engines pick the same crossing
    row."""
    from streaming_feature_store_spark.operators.profile import (
        weighted_quantile,
    )

    li = _t(spark, sf_dir, "lineitem")
    return weighted_quantile(
        li, "l_returnflag", "l_extendedprice", "l_quantity", q=0.5,
        out_col="weighted_median",
    )


@query(
    "q180_event_transitions",
    sql="""
    WITH p AS (
      SELECT event_type AS to_type,
        LAG(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    ), c AS (
      SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
      ROUND(n_transitions / SUM(n_transitions)
            OVER (PARTITION BY from_type), 6) AS p_transition
    FROM c
    """,
)
def q180_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (``behavior.event_transitions``): P(next type | current type) — the
    journey model one step past the reference's session funnels
    (streaming/core/processors/clickstream.py).  One keyed LAG window +
    one |types|²-bounded aggregate; the probability window runs on that
    tiny frame only."""
    from streaming_feature_store_spark.operators.behavior import (
        event_transitions,
    )

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev, "user_id", "ts", "event_type", "event_id")


@query(
    "q181_nearest_event_value",
    sql="""
    WITH l AS (
      SELECT user_id, epoch_us(ts) AS us, event_id
      FROM events WHERE event_type = 'purchase'
    ), f AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, value
      FROM events WHERE event_type <> 'purchase'
    )
    SELECT l.user_id, l.us AS label_ts_us, l.event_id AS label_key,
      n.value AS near_fval, n.us AS near_ts_us,
      n.us - l.us AS near_delta_us
    FROM l LEFT JOIN LATERAL (
      SELECT f.us, f.value
      FROM f WHERE f.user_id = l.user_id
      ORDER BY abs(f.us - l.us),
               CASE WHEN f.us <= l.us THEN 0 ELSE 1 END,
               CASE WHEN f.us <= l.us THEN -f.event_id ELSE f.event_id END
      LIMIT 1
    ) n ON TRUE
    """,
)
def q181_nearest_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join (``asof.nearest_join``): for every purchase,
    the closest other event by |Δt| (ties → backward, pandas
    merge_asof(direction='nearest') semantics).  Two linear as-of passes
    reconciled on the label key — never a range-join explosion; the
    oracle's LATERAL top-1 mirrors the exact tie ladder (distance, side,
    per-side tiebreak)."""
    from streaming_feature_store_spark.operators.asof import nearest_join

    ev = with_event_micros(_t(spark, sf_dir, "events"))
    labels = ev.filter(F.col("event_type") == "purchase")
    feats = ev.filter(F.col("event_type") != "purchase").withColumnRenamed(
        "value", "fval"
    )
    return nearest_join(
        labels, feats, "user_id", "us", "us", ["fval"], [], "event_id"
    )


@query(
    "q182_hourly_anomaly_rates",
    sql="""
    WITH cells AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hr, value AS v
      FROM events
    ), base AS (
      SELECT event_type, hr, COUNT(*) AS n,
        CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS s,
        CAST(SUM(CAST(v * v AS DECIMAL(28,8))) AS DOUBLE) AS s2
      FROM cells GROUP BY 1, 2
    )
    SELECT c.event_type, CAST(c.hr AS INT) AS hour_of_day,
      COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN b.n > 1 AND
        (b.n * c.v - b.s) * (b.n * c.v - b.s) * (b.n - 1)
          > 9.0 * b.n * (b.n * b.s2 - b.s * b.s)
        THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM cells c JOIN base b
      ON c.event_type = b.event_type AND c.hr = b.hr
    GROUP BY 1, 2
    """,
)
def q182_hourly_anomaly_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) anomaly screen
    (``drift.seasonal_anomaly_counts``): per (type, hour) cell, how many
    values sit >3σ from their OWN cell's population — the seasonality-
    aware upgrade of the reference's global z-score monitor.  The
    baseline is one map-side aggregate over ≤ |types|·24 cells broadcast
    back; the 3σ test compares in division-free squared form so both
    engines evaluate identical doubles."""
    from streaming_feature_store_spark.operators.drift import (
        seasonal_anomaly_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return seasonal_anomaly_counts(ev, "ts", "event_type", "value", z=3.0)


@query(
    "q183_price_size_frontier",
    sql="""
    SELECT p_brand, p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part o
      WHERE o.p_brand = p.p_brand
        AND o.p_retailprice < p.p_retailprice
        AND o.p_size > p.p_size
    )
    """,
)
def q183_price_size_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (``profile.pareto_frontier``): parts not
    strictly dominated on (cheaper price, larger size).  The oracle's
    NOT EXISTS is the O(n²) self-join statement of the skyline; the Spark
    plan is the O(n) scan — dominated iff the running MAX of size over
    strictly-cheaper prices (distributed prefix-max, exclusive) exceeds
    own size."""
    from streaming_feature_store_spark.operators.profile import (
        pareto_frontier,
    )

    part = _t(spark, sf_dir, "part")
    return pareto_frontier(
        part, "p_brand", "p_retailprice", "p_size", ["p_partkey"]
    )


@query(
    "q184_custkey_skew_report",
    sql="""
    WITH c AS (
      SELECT o_custkey, COUNT(*) AS key_rows FROM orders GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(key_rows) AS BIGINT) AS tot, COUNT(*) AS nkeys
      FROM c
    )
    SELECT o_custkey, key_rows,
      ROUND(key_rows / tot, 6) AS row_share,
      ROUND(key_rows * nkeys / tot, 4) AS x_mean_key
    FROM c, t
    ORDER BY key_rows DESC, o_custkey
    LIMIT 20
    """,
)
def q184_custkey_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (``skew.key_skew_report``): top-20
    heaviest customer keys in the order fact with row share and
    ×-mean-key ratio — the pre-join report that says whether the next
    stage needs salting/AQE skew handling.  TakeOrdered top-N (no global
    sort), deterministic key tie-break."""
    from streaming_feature_store_spark.operators.skew import key_skew_report

    orders = _t(spark, sf_dir, "orders")
    return key_skew_report(orders, "o_custkey", top_n=20)


@query(
    "q185_bloom_prejoin_stats",
    sql="""
    WITH build AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 9000
    ), seeds AS (
      SELECT UNNEST([1, 2, 3, 4, 5]) AS s
    ), pos AS (
      SELECT DISTINCT s,
        substr(md5(CAST(c_custkey AS VARCHAR) || ':'
                   || CAST(s AS VARCHAR)), 1, 2) AS b
      FROM build, seeds
    ), pp AS (
      SELECT p.o_orderkey,
        SUM(CASE WHEN pos.b IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM orders p CROSS JOIN seeds
      LEFT JOIN pos ON pos.s = seeds.s
        AND pos.b = substr(md5(CAST(p.o_custkey AS VARCHAR) || ':'
                               || CAST(seeds.s AS VARCHAR)), 1, 2)
      GROUP BY 1
    ), bloom AS (
      SELECT o_orderkey FROM pp WHERE hits = 5
    ), exact AS (
      SELECT o_orderkey FROM orders JOIN build ON o_custkey = c_custkey
    )
    SELECT (SELECT COUNT(*) FROM orders) AS probed,
           (SELECT COUNT(*) FROM bloom) AS bloom_pass,
           (SELECT COUNT(*) FROM exact) AS exact_pass,
           (SELECT COUNT(*) FROM bloom)
             - (SELECT COUNT(*) FROM exact) AS false_pos
    """,
)
def q185_bloom_prejoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join reduction (``enrich.bloom_semi_join``):
    deterministic md5-bucket partitioned Bloom (5 seeds × 256 buckets)
    screening the order fact against high-balance customers — k map-side
    broadcast semi-joins, probe never shuffled.  The filter is exactly
    reproducible cross-engine, so the oracle verifies the FALSE-POSITIVE
    count too, not just the no-false-negative containment."""
    from streaming_feature_store_spark.operators.enrich import (
        bloom_semi_join,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    kept = bloom_semi_join(
        orders, "o_custkey", cust, "c_custkey",
        num_hashes=5, prefix_len=2,
    )
    exact = orders.join(
        cust.select("c_custkey").distinct(),
        orders["o_custkey"] == F.col("c_custkey"),
        "left_semi",
    )
    a = orders.agg(F.count("*").alias("probed"))
    b = kept.agg(F.count("*").alias("bloom_pass"))
    c = exact.agg(F.count("*").alias("exact_pass"))
    return (
        a.crossJoin(broadcast(b))
        .crossJoin(broadcast(c))
        .select(
            "probed", "bloom_pass", "exact_pass",
            (F.col("bloom_pass") - F.col("exact_pass")).alias("false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Experimentation readouts at fleet scale (operators/experiment.py):
# many simultaneous z-tests + BH-FDR control, diff-in-diff, delta-method
# ratio metrics.  The erfc-based normal tail is the same A&S 7.1.26
# polynomial as operators/drift._erfc, restated in SQL so DuckDB
# recomputes statistic -> p-value -> rejection end-to-end.
# ---------------------------------------------------------------------------


def _erfc_sql(x: str) -> str:
    """A&S 7.1.26 erfc(x) for x >= 0 as a SQL expression (mirrors
    operators/drift._erfc term-for-term so the doubles agree)."""
    t = f"(1.0 / (1.0 + 0.3275911 * ({x})))"
    return (
        f"({t} * (0.254829592 + {t} * (-0.284496736 + {t} * (1.421413741"
        f" + {t} * (-1.453152027 + {t} * 1.061405429)))) * EXP(-({x})*({x})))"
    )


# two-sided normal tail P(|Z| > z) = erfc(|z| / sqrt(2)), clamped
_P2_SQL = (
    "LEAST(1.0, GREATEST(0.0, "
    + _erfc_sql("ABS({z}) / 1.4142135623730951")
    + "))"
)


def _tsf2_sql(t: str, nu: str) -> str:
    """Two-sided Student-t tail via Hill's normalizing transform (ACM
    Algorithm 395) — mirrors operators/drift.t_sf2 term-for-term so the
    doubles agree, INCLUDING the null guard: DuckDB's LEAST/GREATEST
    skip NULLs exactly like Spark's, so an unguarded clamp would turn a
    NULL statistic into p = 0.0 in the oracle too.  ``t``/``nu`` should
    be simple column references from a prior CTE (the expression repeats
    them heavily)."""
    y0 = f"(({t})*({t})/({nu}))"
    ylog = f"(CASE WHEN {y0} > 1e-6 THEN LN(1.0 + {y0}) ELSE {y0} END)"
    a = f"(({nu}) - 0.5)"
    b = f"(48.0 * {a} * {a})"
    y = f"({a} * {ylog})"
    z = (
        f"(((((((-0.4 * {y} - 3.3) * {y} - 24.0) * {y} - 85.5)"
        f" / (0.8 * {y} * {y} + 100.0 + {b}) + {y} + 3.0) / {b}) + 1.0)"
        f" * SQRT({y}))"
    )
    return (
        f"CASE WHEN ({t}) IS NOT NULL AND ({nu}) IS NOT NULL THEN "
        "LEAST(1.0, GREATEST(0.0, "
        + _erfc_sql(f"({z}) / 1.4142135623730951")
        + ")) END"
    )

_Z196 = (
    "(sb/n_b - sa/n_a) / SQRT(((ssa - sa*sa/n_a)/(n_a - 1))/n_a"
    " + ((ssb - sb*sb/n_b)/(n_b - 1))/n_b)"
)

# Welch–Satterthwaite df from the same decimal moments (mirrors the
# grouped_ztest/welch_ttest column expressions)
# pooled squared standard error from the same moments (zero iff both
# arms are constant -- the Spark side yields NULL z/df/p there, so the
# oracle must too rather than divide by zero)
_SE2W = (
    "(((ssa - sa*sa/n_a)/(n_a - 1))/n_a"
    " + ((ssb - sb*sb/n_b)/(n_b - 1))/n_b)"
)

_DFW = (
    "POW(((ssa - sa*sa/n_a)/(n_a - 1))/n_a"
    " + ((ssb - sb*sb/n_b)/(n_b - 1))/n_b, 2)"
    " / (POW(((ssa - sa*sa/n_a)/(n_a - 1))/n_a, 2)/(n_a - 1)"
    " + POW(((ssb - sb*sb/n_b)/(n_b - 1))/n_b, 2)/(n_b - 1))"
)


@query(
    "q186_skew_safe_revenue",
    sql="""
    SELECT c_mktsegment,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        AS segment_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q186_skew_safe_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-and-replicate skew join (``skew.replicated_skew_join``):
    the order fact is salted on its unique o_orderkey (16 buckets), the
    customer dim is exploded across the salt space, and the join runs on
    (custkey, salt) — a hot customer's rows spread over 16 reducers.
    The oracle is the PLAIN join aggregate, proving salting+replication
    changes the physical distribution and nothing else.  This is the
    manual twin of AQE skew-split for plans AQE can't touch (stateful
    stream-stream joins, pinned bucketed layouts)."""
    from streaming_feature_store_spark.operators.skew import (
        replicated_skew_join,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = replicated_skew_join(
        orders, "o_custkey", cust, "c_custkey",
        salt_col="o_orderkey", salt_buckets=16,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("segment_revenue"),
    )


@query(
    "q187_event_value_ab_test",
    sql=f"""
    WITH t AS (
      SELECT event_type, user_id % 2 AS variant, value FROM events
    ), g AS (
      SELECT event_type,
        COUNT(CASE WHEN variant = 0 THEN value END) AS n_a,
        COUNT(CASE WHEN variant = 1 THEN value END) AS n_b,
        CAST(SUM(CASE WHEN variant = 0
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS sa,
        CAST(SUM(CASE WHEN variant = 1
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS sb,
        CAST(SUM(CASE WHEN variant = 0
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssa,
        CAST(SUM(CASE WHEN variant = 1
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssb
      FROM t GROUP BY 1
    ), m AS (
      SELECT event_type, n_a, n_b, sa, sb,
        CASE WHEN n_a > 1 THEN (ssa - sa*sa/n_a)/(n_a - 1) END AS va,
        CASE WHEN n_b > 1 THEN (ssb - sb*sb/n_b)/(n_b - 1) END AS vb
      FROM g
    ), s AS (
      SELECT event_type, n_a, n_b, sa, sb,
        CASE WHEN va/n_a + vb/n_b > 0
          THEN (sa/n_a - sb/n_b) / SQRT(va/n_a + vb/n_b) END AS t_raw,
        CASE WHEN va/n_a + vb/n_b > 0
          THEN POW(va/n_a + vb/n_b, 2)
            / (POW(va/n_a, 2)/(n_a - 1) + POW(vb/n_b, 2)/(n_b - 1))
          END AS df_raw
      FROM m
    )
    SELECT event_type, n_a, n_b,
      ROUND(sa/n_a, 4) AS mean_a,
      ROUND(sb/n_b, 4) AS mean_b,
      ROUND(t_raw, 4) AS t_stat,
      ROUND(df_raw, 2) AS df_welch,
      ROUND({_tsf2_sql('ABS(t_raw)', 'df_raw')}, 6) AS p_value,
      ABS(t_raw) > 1.96 AS significant
    FROM s
    """,
)
def q187_event_value_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-experiment Welch's unequal-variance t-test
    (``drift.welch_ttest``): every event type read as an experiment,
    users hash-split into two arms (user_id parity), the treatment
    effect on `value` tested with the Welch t statistic +
    Welch–Satterthwaite df + Hill-transform t p-value in ONE
    conditional-aggregate pass over exact decimal moments — no per-arm
    subqueries, order-independent partial sums (raw double AVG/VAR_SAMP
    would make the 4-dp statistic partitioning-dependent), closed-form
    so the oracle recomputes the full decision chain exactly."""
    from streaming_feature_store_spark.operators.drift import welch_ttest

    ev = _t(spark, sf_dir, "events").withColumn(
        "variant", F.col("user_id") % 2
    )
    return welch_ttest(
        ev, "event_type", "variant", "value", variant_a=0, variant_b=1
    )


@query(
    "q188_power_iteration",
    sql="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d0 AS (
      SELECT vec_id, v,
        list_reduce(v, (acc, x) -> acc + x) / sqrt(64.0) AS dot
      FROM e
    ), ex AS (
      SELECT gs.i - 1 AS dim_idx,
        CAST(dot * v[gs.i] AS DECIMAL(18,6)) AS contrib
      FROM d0 CROSS JOIN generate_series(1, 64) AS gs(i)
    ), u AS (
      SELECT dim_idx, CAST(SUM(contrib) AS DOUBLE) AS u
      FROM ex GROUP BY 1
    ), nrm AS (
      SELECT SQRT(CAST(SUM(CAST(u * u AS DECIMAL(38,10))) AS DOUBLE))
        AS norm
      FROM u
    )
    SELECT dim_idx, ROUND(u / norm, 6) AS component FROM u, nrm
    """,
)
def q188_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact power-iteration step toward the corpus PCA direction
    (``similarity.power_iteration_step``): u = normalize(Σ (xᵢ·v₀)xᵢ)
    from the deterministic uniform seed — the distributed linear-algebra
    kernel behind large-scale PCA, pinned the same way q156 pins one
    Lloyd round.  Per-row dots are pinned-order folds (bit-identical
    left fold in both engines); the d×n per-dimension accumulation is an
    order-independent decimal aggregate into 64 rows — the only
    shuffle."""
    from streaming_feature_store_spark.operators.similarity import (
        power_iteration_step,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return power_iteration_step(emb, "embedding", dim=64)


@query(
    "q189_user_event_breadth",
    sql="""
    SELECT event_id, user_id,
      COUNT(DISTINCT event_type) OVER (
        PARTITION BY user_id ORDER BY ts, event_id) AS distinct_so_far
    FROM events
    """,
)
def q189_user_event_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding per-user COUNT DISTINCT over event time
    (``windows.cumulative_distinct``): how many distinct event types the
    user has touched as of each event — the set-breadth feature the
    reference keeps in per-entity in-memory sets.  Spark windows reject
    DISTINCT, so the exact set-free restatement flags first occurrences
    (row_number == 1 over (user, type)) and running-sums the flags over
    the user timeline; per-row state is one integer at any scale."""
    from streaming_feature_store_spark.operators.windows import (
        cumulative_distinct,
    )

    ev = _t(spark, sf_dir, "events")
    return cumulative_distinct(
        ev, "user_id", "ts", "event_type", "event_id"
    ).select("event_id", "user_id", "distinct_so_far")


@query(
    "q190_l_diverse_release",
    sql="""
    WITH q AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
        CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band
      FROM customer
    ), g AS (
      SELECT c_nationkey, bal_band,
        COUNT(DISTINCT c_mktsegment) AS sensitive_l
      FROM q GROUP BY 1, 2
      HAVING COUNT(DISTINCT c_mktsegment) >= 3
    )
    SELECT q.c_custkey, q.c_nationkey, q.c_mktsegment, q.bal_band,
      g.sensitive_l
    FROM q JOIN g USING (c_nationkey, bal_band)
    """,
)
def q190_l_diverse_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate (``profile.l_diversity``, l=3) on the
    same quasi-identifier as the q154 k-anonymity gate — keeps only rows
    whose (nation, balance-band) group spans ≥ 3 distinct market
    segments, closing the homogeneity leak k-anonymity allows.  Exact
    distinct via a (QI, sensitive) pre-aggregation, then an
    AQE-broadcastable semi join of surviving groups onto the rows."""
    from streaming_feature_store_spark.operators.profile import l_diversity

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
    )
    return l_diversity(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", l_threshold=3
    )


@query(
    "q191_neyman_sample_plan",
    sql="""
    WITH m AS (
      SELECT event_type, COUNT(value) AS n_rows,
        ROUND(STDDEV_SAMP(value), 4) AS value_std
      FROM events GROUP BY 1
    ), w AS (
      SELECT *,
        n_rows * CAST(ROUND(COALESCE(value_std, 0) * 10000, 0) AS BIGINT)
          AS wt
      FROM m
    ), t AS (
      SELECT CAST(SUM(wt) AS BIGINT) AS tot_w FROM w
    ), q AS (
      SELECT event_type, n_rows, value_std, wt,
        (10000 * wt) // tot_w AS base_alloc,
        (10000 * wt) % tot_w AS rem
      FROM w, t
    ), l AS (
      SELECT 10000 - SUM(base_alloc) AS leftover FROM q
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rk
      FROM q
    )
    SELECT event_type, n_rows, value_std,
      base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
    FROM r, l
    """,
)
def q191_neyman_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan
    (``curation.neyman_allocation``): a 10 000-row validation-sample
    budget split across event types ∝ N_h·S_h — the variance-minimizing
    allocation, computed from one moments aggregate and apportioned with
    exact-integer Hamilton rounding (Σ alloc == budget ALWAYS; the
    stddev weight is rounded-then-lifted to int64 so both engines
    apportion identical integers)."""
    from streaming_feature_store_spark.operators.curation import (
        neyman_allocation,
    )

    ev = _t(spark, sf_dir, "events")
    return neyman_allocation(ev, "event_type", "value", budget=10000)


@query(
    "q192_price_band_orders",
    sql="""
    WITH bands AS (
      SELECT r_regionkey AS band_id,
        r_regionkey * 120000.0 AS band_lo,
        (r_regionkey + 1) * 120000.0 AS band_hi
      FROM region
    )
    SELECT band_id, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders JOIN bands
      ON o_totalprice >= band_lo AND o_totalprice < band_hi
    GROUP BY 1
    """,
)
def q192_price_band_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven price-tier lookup (``enrich.band_join``): each order
    matched to the half-open price band [lo, hi) containing its total —
    the generalization of the reference's hard-coded amount-band ladder
    to a configuration-table dimension.  The band table (derived here
    from region: 5 tiers of $120k) is constant-size at any data scale,
    so the physical plan is a BroadcastNestedLoopJoin with NO shuffle of
    the fact side; the only Exchange is the final tier aggregate."""
    from streaming_feature_store_spark.operators.enrich import band_join

    orders = _t(spark, sf_dir, "orders")
    bands = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("band_id"),
        (F.col("r_regionkey") * 120000.0).alias("band_lo"),
        ((F.col("r_regionkey") + 1) * 120000.0).alias("band_hi"),
    )
    return (
        band_join(orders, "o_totalprice", bands, "band_lo", "band_hi")
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "q193_conformal_value_cutoffs",
    sql="""
    WITH r AS (
      SELECT event_type, value,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY value, event_id) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS n_cal
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, n_cal, ROUND(value, 6) AS q_hat
    FROM r
    WHERE rk = LEAST(CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT), n_cal)
    """,
)
def q193_conformal_value_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal threshold per event type
    (``ml.training.conformal_threshold``, α=0.1): the exact
    ceil((n+1)·0.9)-th smallest calibration value — the
    distribution-free cutoff under which a fresh event's value falls
    with probability ≥ 0.9.  One sort shuffle serves both the
    row_number and the group count; event_id pins tie order
    cross-engine."""
    from streaming_feature_store_spark.ml.training import (
        conformal_threshold,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return conformal_threshold(
        ev, "event_type", "value", "event_id", alpha=0.1
    )


@query(
    "q194_event_value_incremental",
    sql="""
    WITH p AS (
      SELECT event_type, CAST(ts AS DATE) AS shard,
        COUNT(value) AS n,
        SUM(CAST(value AS DECIMAL(18,4))) AS s,
        SUM(CAST(value * value AS DECIMAL(38,8))) AS ss,
        MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
      COUNT(*) AS n_shards,
      CAST(SUM(n) AS BIGINT) AS n_rows,
      ROUND(CAST(SUM(s) AS DOUBLE), 4) AS value_sum,
      ROUND(CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS BIGINT), 6)
        AS value_mean,
      ROUND(CASE WHEN CAST(SUM(n) AS BIGINT) > 1 THEN
        (CAST(SUM(ss) AS DOUBLE)
         - CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)
           / CAST(SUM(n) AS BIGINT))
        / (CAST(SUM(n) AS BIGINT) - 1) END, 4) AS value_var,
      MIN(vmin) AS vmin, MAX(vmax) AS vmax
    FROM p GROUP BY 1
    """,
)
def q194_event_value_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance equivalence
    (``incremental.partial_aggregate`` + ``merge_partials``): per-day
    mergeable (n, Σx, Σx², min, max) decimal states per event type,
    merged back to group totals — and the oracle proves the merged
    result is EXACTLY the direct aggregation over raw rows, the
    contract that lets a 100 TB history absorb a new day by touching
    one shard instead of rescanning."""
    from streaming_feature_store_spark.operators.incremental import (
        merge_partials,
        partial_aggregate,
    )

    ev = _t(spark, sf_dir, "events")
    partials = partial_aggregate(
        ev, ["event_type"], F.to_date("ts"), "value"
    )
    return merge_partials(partials, ["event_type"])


@query(
    "q195_segment_woe",
    sql="""
    WITH g AS (
      SELECT c_mktsegment,
        COUNT(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_bad,
        COUNT(CASE WHEN NOT (c_acctbal < 0) THEN 1 END) AS n_good
      FROM customer GROUP BY 1
    ), t AS (
      SELECT *,
        SUM(n_bad) OVER () AS bad_tot,
        SUM(n_good) OVER () AS good_tot
      FROM g
    ), w AS (
      SELECT c_mktsegment, n_bad, n_good,
        LN(((n_bad + 0.5) / (bad_tot + 1.0))
           / ((n_good + 0.5) / (good_tot + 1.0))) AS woe_raw,
        ((n_bad + 0.5) / (bad_tot + 1.0)
         - (n_good + 0.5) / (good_tot + 1.0)) AS diff
      FROM t
    )
    SELECT c_mktsegment, n_bad, n_good,
      ROUND(woe_raw, 6) AS woe,
      ROUND(diff * woe_raw, 6) AS iv_term,
      CAST(SUM(CAST(ROUND(diff * woe_raw, 6) AS DECIMAL(18,6))) OVER ()
        AS DOUBLE) AS iv_total
    FROM w
    """,
)
def q195_segment_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence + information value of market segment against
    negative account balance (``profile.woe_iv``, Laplace smooth 0.5) —
    the scorecard-standard categorical encoding and its feature-level
    IV riding along on every row.  One conditional-aggregate pass to
    |segments| rows; totals and the IV sum are window aggregates over
    the tiny grouped frame."""
    from streaming_feature_store_spark.operators.profile import woe_iv

    cust = _t(spark, sf_dir, "customer")
    return woe_iv(
        cust, "c_mktsegment", F.col("c_acctbal") < 0, smooth=0.5
    )




@query(
    "q196_ab_fdr_screen",
    sql=f"""
    WITH h AS (
      SELECT event_type,
        CAST(FLOOR(EXTRACT(HOUR FROM ts) / 6) AS BIGINT) AS slot,
        (user_id % 2) = 1 AS trt, value
      FROM events WHERE value IS NOT NULL
    ), g AS (
      SELECT event_type, slot,
        COUNT(CASE WHEN NOT trt THEN value END) AS n_a,
        COUNT(CASE WHEN trt THEN value END) AS n_b,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(value AS DECIMAL(18,4)) END)
          AS DOUBLE) AS sa,
        CAST(SUM(CASE WHEN trt THEN CAST(value AS DECIMAL(18,4)) END)
          AS DOUBLE) AS sb,
        CAST(SUM(CASE WHEN NOT trt
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssa,
        CAST(SUM(CASE WHEN trt
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssb
      FROM h GROUP BY 1, 2
    ), zt0 AS (
      SELECT event_type, slot, n_a, n_b, sa, sb,
        CASE WHEN n_a > 1 AND n_b > 1 AND {_SE2W} > 0
          THEN {_Z196} END AS z_raw,
        CASE WHEN n_a > 1 AND n_b > 1 AND {_SE2W} > 0
          THEN {_DFW} END AS df_raw
      FROM g
    ), zt AS (
      SELECT event_type, slot, n_a, n_b,
        ROUND(sa / n_a, 4) AS mean_a,
        ROUND(sb / n_b, 4) AS mean_b,
        ROUND(z_raw, 4) AS z_stat,
        ROUND(CASE WHEN LEAST(n_a, n_b) < 30
              THEN {_tsf2_sql('ABS(z_raw)', 'df_raw')}
              ELSE {_P2_SQL.format(z='z_raw')} END, 6) AS p_value,
        LEAST(n_a, n_b) < 30 AS small_arm
      FROM zt0
    ), r AS (
      SELECT *,
        ROW_NUMBER() OVER
          (ORDER BY p_value ASC NULLS LAST, event_type, slot) AS p_rank,
        COUNT(p_value) OVER () AS m
      FROM zt
    ), c AS (
      SELECT *,
        MAX(CASE WHEN p_value <= p_rank * 0.05 / m
                 THEN p_rank END) OVER () AS cutoff,
        MIN(m * p_value / p_rank) OVER
          (ORDER BY p_value ASC NULLS LAST, event_type, slot
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sufmin
      FROM r
    )
    SELECT event_type, slot, n_a, n_b, mean_a, mean_b, z_stat, p_value,
      small_arm, p_rank,
      CASE WHEN p_value IS NOT NULL
           THEN ROUND(LEAST(1.0, sufmin), 6) END AS p_adj,
      COALESCE(p_rank <= cutoff, FALSE) AND p_value IS NOT NULL AS rejected
    FROM c
    """,
)
def q196_ab_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-scale A/B screen with false-discovery-rate control
    (``experiment.grouped_ztest`` + ``experiment.bh_fdr``): one z-test
    per (event_type × 6-hour slot) cell comparing user-parity arms on
    `value` — 20 simultaneous hypotheses — then Benjamini–Hochberg
    step-up at α=0.05 with adjusted p-values.  The test pass is one
    conditional decimal-moment aggregation over the fact rows; BH is
    pure rank logic over the 20-row hypothesis frame (the
    single-partition windows move hypothesis rows, never facts)."""
    from streaming_feature_store_spark.operators.experiment import (
        bh_fdr,
        grouped_ztest,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn(
            "slot", F.floor(F.hour("ts") / 6).cast("long")
        )
    )
    zt = grouped_ztest(
        ev, ["event_type", "slot"], (F.col("user_id") % 2) == 1, "value"
    )
    return bh_fdr(zt, "p_value", ["event_type", "slot"], alpha=0.05)


@query(
    "q197_event_value_did",
    sql=f"""
    WITH d AS (
      SELECT event_type, (user_id % 2) = 1 AS trt,
        ts >= {_DRIFT_CUT} AS post, value
      FROM events
    ), g AS (
      SELECT event_type,
        COUNT(CASE WHEN NOT trt AND NOT post THEN value END) AS n_c_pre,
        COUNT(CASE WHEN NOT trt AND post THEN value END) AS n_c_post,
        COUNT(CASE WHEN trt AND NOT post THEN value END) AS n_t_pre,
        COUNT(CASE WHEN trt AND post THEN value END) AS n_t_post,
        CAST(SUM(CASE WHEN NOT trt AND NOT post
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s_c_pre,
        CAST(SUM(CASE WHEN NOT trt AND post
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s_c_post,
        CAST(SUM(CASE WHEN trt AND NOT post
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s_t_pre,
        CAST(SUM(CASE WHEN trt AND post
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s_t_post,
        CAST(SUM(CASE WHEN NOT trt AND NOT post
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE)
          AS ss_c_pre,
        CAST(SUM(CASE WHEN NOT trt AND post
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE)
          AS ss_c_post,
        CAST(SUM(CASE WHEN trt AND NOT post
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE)
          AS ss_t_pre,
        CAST(SUM(CASE WHEN trt AND post
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE)
          AS ss_t_post
      FROM d GROUP BY 1
    ), f AS (
      SELECT event_type, n_c_pre, n_c_post, n_t_pre, n_t_post,
        s_c_pre / n_c_pre AS m_c_pre, s_c_post / n_c_post AS m_c_post,
        s_t_pre / n_t_pre AS m_t_pre, s_t_post / n_t_post AS m_t_post,
        (s_t_post / n_t_post - s_t_pre / n_t_pre)
          - (s_c_post / n_c_post - s_c_pre / n_c_pre) AS did_raw,
        SQRT(
          (CASE WHEN n_c_pre > 1 THEN
            (ss_c_pre - s_c_pre * s_c_pre / n_c_pre) / (n_c_pre - 1) END)
            / n_c_pre
          + (CASE WHEN n_c_post > 1 THEN
            (ss_c_post - s_c_post * s_c_post / n_c_post)
              / (n_c_post - 1) END) / n_c_post
          + (CASE WHEN n_t_pre > 1 THEN
            (ss_t_pre - s_t_pre * s_t_pre / n_t_pre) / (n_t_pre - 1) END)
            / n_t_pre
          + (CASE WHEN n_t_post > 1 THEN
            (ss_t_post - s_t_post * s_t_post / n_t_post)
              / (n_t_post - 1) END) / n_t_post
        ) AS se_raw
      FROM g
    )
    SELECT event_type, n_c_pre, n_c_post, n_t_pre, n_t_post,
      ROUND(m_c_pre, 4) AS mean_c_pre,
      ROUND(m_c_post, 4) AS mean_c_post,
      ROUND(m_t_pre, 4) AS mean_t_pre,
      ROUND(m_t_post, 4) AS mean_t_post,
      ROUND(did_raw, 4) AS did,
      ROUND(se_raw, 4) AS se,
      ROUND(CASE WHEN se_raw > 0 THEN did_raw / se_raw END, 4) AS z_stat,
      ROUND(CASE WHEN se_raw > 0 THEN
        {_P2_SQL.format(z='did_raw / se_raw')} END, 6) AS p_value
    FROM f
    """,
)
def q197_event_value_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences per event type
    (``experiment.diff_in_diff``): user-parity arms × the stream-half
    pre/post split on `value` — the quasi-experimental double
    difference that removes time-invariant arm bias, with the
    large-sample SE over the four cells and the erfc-form normal
    p-value.  ONE conditional decimal-moment aggregation builds all
    four cells per group."""
    from streaming_feature_store_spark.operators.experiment import (
        diff_in_diff,
    )

    ev = _t(spark, sf_dir, "events")
    return diff_in_diff(
        ev,
        ["event_type"],
        (F.col("user_id") % 2) == 1,
        F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"),
        "value",
    )


@query(
    "q198_value_per_event_ci",
    sql="""
    WITH u AS (
      SELECT event_type, user_id,
        COALESCE(SUM(CAST(value AS DECIMAL(18,4))),
                 CAST(0 AS DECIMAL(18,4))) AS x,
        COALESCE(SUM(CAST(1.0 AS DECIMAL(18,4))),
                 CAST(0 AS DECIMAL(18,4))) AS y
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT event_type, COUNT(*) AS n_units,
        CAST(SUM(x) AS DOUBLE) AS sx,
        CAST(SUM(y) AS DOUBLE) AS sy,
        CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
          AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
          AS DECIMAL(38,8))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
          AS DECIMAL(38,8))) AS DOUBLE) AS sxy
      FROM u GROUP BY 1
    ), g2 AS (
      SELECT event_type, n_units, sx,
        CASE WHEN sy != 0 THEN sy END AS sy, sxx, syy, sxy
      FROM g
    ), f AS (
      SELECT event_type, n_units, sx / sy AS r,
        CASE WHEN n_units > 1 AND sy IS NOT NULL THEN
        SQRT(GREATEST(0.0,
          ((sxx - sx * sx / n_units) / (n_units - 1)
           - 2.0 * (sx / sy) * ((sxy - sx * sy / n_units) / (n_units - 1))
           + (sx / sy) * (sx / sy)
             * ((syy - sy * sy / n_units) / (n_units - 1)))
          / (n_units * (sy / n_units) * (sy / n_units))))
        END AS se_raw
      FROM g2
    )
    SELECT event_type, n_units,
      ROUND(r, 6) AS ratio,
      ROUND(se_raw, 6) AS se,
      ROUND(r - 1.96 * se_raw, 6) AS ci_lo,
      ROUND(r + 1.96 * se_raw, 6) AS ci_hi
    FROM f
    """,
)
def q198_value_per_event_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for the ratio metric value-per-event per event
    type, clustered by user (``experiment.ratio_metric_delta``): rows
    cluster within users, so the i.i.d.-rows variance is wrong — the
    unit-level delta-method variance over per-user (Σvalue, count)
    sums is the standard correction.  Two exact aggregation passes:
    facts → per-user decimal sums (the only fact shuffle), unit sums →
    group moments incl. the Σxy cross-moment."""
    from streaming_feature_store_spark.operators.experiment import (
        ratio_metric_delta,
    )

    ev = _t(spark, sf_dir, "events")
    return ratio_metric_delta(
        ev, "user_id", ["event_type"], "value", F.lit(1.0)
    )


@query(
    "q199_recs_ranking_quality",
    sql=f"""
    WITH pairs AS (
      SELECT user_id % 4 AS cohort, user_id, event_type,
        CAST(SUM(CASE WHEN ts < {_DRIFT_CUT}
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
          / COUNT(CASE WHEN ts < {_DRIFT_CUT} THEN value END) AS score,
        COUNT(CASE WHEN ts >= {_DRIFT_CUT} THEN 1 END) AS rel
      FROM events GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT cohort, user_id,
        COALESCE(CAST(rel AS DOUBLE), 0.0) AS r,
        ROW_NUMBER() OVER (PARTITION BY cohort, user_id
          ORDER BY score DESC NULLS LAST, event_type) AS rk,
        ROW_NUMBER() OVER (PARTITION BY cohort, user_id
          ORDER BY COALESCE(CAST(rel AS DOUBLE), 0.0) DESC, event_type)
          AS irk
      FROM pairs
    ), pu AS (
      SELECT cohort, user_id,
        SUM(CASE WHEN rk <= 3
          THEN CAST(r / log2(rk + 1.0) AS DECIMAL(18,8)) END) AS dcg,
        SUM(CASE WHEN irk <= 3
          THEN CAST(r / log2(irk + 1.0) AS DECIMAL(18,8)) END) AS idcg,
        COUNT(CASE WHEN rk <= 3 AND r > 0 THEN 1 END) AS hits,
        COUNT(CASE WHEN r > 0 THEN 1 END) AS nrel
      FROM ranked GROUP BY 1, 2
    ), sc AS (
      SELECT cohort,
        CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) AS ndcg,
        hits / 3.0 AS p,
        hits / CAST(nrel AS DOUBLE) AS rcl
      FROM pu WHERE nrel > 0
    )
    SELECT cohort, COUNT(*) AS n_users,
      ROUND(CAST(SUM(CAST(ndcg AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*),
            6) AS ndcg_at_k,
      ROUND(CAST(SUM(CAST(p AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*),
            6) AS precision_at_k,
      ROUND(CAST(SUM(CAST(rcl AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*),
            6) AS recall_at_k
    FROM sc GROUP BY 1
    """,
)
def q199_recs_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline ranking-quality evaluation (``ml.ranking.ranking_metrics``,
    k=3): each user's event types ranked by their pre-cut mean value (the
    prediction proxy) and judged against post-cut interaction counts
    (the observed relevance) — mean NDCG@3 / precision@3 / recall@3 per
    user cohort.  The score is an exact decimal mean so the RANK ORDER
    itself is cross-engine deterministic (a raw double avg could flip
    near-ties); DCG terms accumulate in decimal(18,8).  One hash shuffle
    on (cohort, user) feeds both window sorts."""
    from streaming_feature_store_spark.ml.ranking import ranking_metrics

    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ev = _t(spark, sf_dir, "events")
    pre = F.col("ts") < cut
    pairs = ev.groupBy(
        (F.col("user_id") % 4).alias("cohort"), "user_id", "event_type"
    ).agg(
        (
            F.sum(F.when(pre, F.col("value")).cast("decimal(18,4)")).cast(
                "double"
            )
            / F.count(F.when(pre, F.col("value")))
        ).alias("score"),
        F.count(F.when(~pre, 1)).alias("rel"),
    )
    return ranking_metrics(
        pairs, ["cohort"], "user_id", "event_type", "score", "rel", k=3
    )


@query(
    "q200_uplift_deciles",
    sql="""
    WITH e AS (
      SELECT event_id, value, (user_id % 2) = 1 AS trt,
        CAST(event_type = 'purchase' AS BIGINT) AS resp
      FROM events WHERE value IS NOT NULL
    ), b AS (
      SELECT *, CAST(NTILE(10) OVER (ORDER BY value, event_id) AS INT)
        AS bucket
      FROM e
    ), g AS (
      SELECT bucket,
        COUNT(CASE WHEN trt THEN 1 END) AS n_t,
        COUNT(CASE WHEN NOT trt THEN 1 END) AS n_c,
        SUM(CASE WHEN trt THEN resp END) AS resp_t,
        SUM(CASE WHEN NOT trt THEN resp END) AS resp_c
      FROM b GROUP BY 1
    )
    SELECT bucket, n_t, n_c,
      CAST(resp_t AS BIGINT) AS resp_t,
      CAST(resp_c AS BIGINT) AS resp_c,
      ROUND(resp_t / CAST(n_t AS DOUBLE), 6) AS rate_t,
      ROUND(resp_c / CAST(n_c AS DOUBLE), 6) AS rate_c,
      ROUND(resp_t / CAST(n_t AS DOUBLE)
            - resp_c / CAST(n_c AS DOUBLE), 6) AS uplift,
      ROUND(CAST(SUM(CAST(resp_t - resp_c * n_t / CAST(n_c AS DOUBLE)
                          AS DECIMAL(18,6)))
        OVER (ORDER BY bucket DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DOUBLE), 4) AS qini_cum
    FROM g
    """,
)
def q200_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift / Qini readout by score decile
    (``experiment.uplift_deciles``): events bucketed into exact value
    deciles via the DISTRIBUTED ntile (range-partitioned ranks — no
    single-partition sort at 100 TB, same machinery as q160/q169),
    user-parity arms compared on purchase response per decile, and the
    cumulative incremental-gain (Qini) curve walked down from the
    top-score bucket with decimal-accumulated prefix sums."""
    from streaming_feature_store_spark.operators.experiment import (
        uplift_deciles,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return uplift_deciles(
        ev,
        (F.col("user_id") % 2) == 1,
        "value",
        F.col("event_type") == "purchase",
        ["event_id"],
        n_buckets=10,
    )


@query(
    "q201_erasure_audit",
    sql="""
    WITH drops AS (
      SELECT DISTINCT user_id AS k FROM events WHERE user_id % 1000 = 7
    ), ev AS (
      SELECT COUNT(*) AS rows_total,
        COUNT(CASE WHEN user_id IN (SELECT k FROM drops) THEN 1 END)
          AS rows_purged
      FROM events
    ), od AS (
      SELECT COUNT(*) AS rows_total,
        COUNT(CASE WHEN o_custkey IN (SELECT k FROM drops) THEN 1 END)
          AS rows_purged
      FROM orders
    ), cu AS (
      SELECT COUNT(*) AS rows_total,
        COUNT(CASE WHEN c_custkey IN (SELECT k FROM drops) THEN 1 END)
          AS rows_purged
      FROM customer
    )
    SELECT 'events' AS table_name, rows_total, rows_purged,
      rows_total - rows_purged AS rows_kept,
      ROUND(rows_purged / CAST(rows_total AS DOUBLE), 6) AS purge_pct
    FROM ev
    UNION ALL
    SELECT 'orders', rows_total, rows_purged,
      rows_total - rows_purged,
      ROUND(rows_purged / CAST(rows_total AS DOUBLE), 6)
    FROM od
    UNION ALL
    SELECT 'customer', rows_total, rows_purged,
      rows_total - rows_purged,
      ROUND(rows_purged / CAST(rows_total AS DOUBLE), 6)
    FROM cu
    """,
)
def q201_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure compliance audit (``profile.erasure_audit``):
    a deterministic synthetic request list (users with id ≡ 7 mod 1000)
    swept across every table keyed by a subject id — per-table purge
    counts and percentages, the evidence a deletion job produces before
    and after running.  One broadcast left join + one aggregate per
    table; no fact side ever shuffles (request lists are
    human-generated and bounded at any data scale)."""
    from streaming_feature_store_spark.operators.profile import (
        erasure_audit,
    )

    ev = _t(spark, sf_dir, "events")
    subjects = ev.filter(F.col("user_id") % 1000 == 7).select("user_id")
    return erasure_audit(
        {
            "events": (ev, "user_id"),
            "orders": (_t(spark, sf_dir, "orders"), "o_custkey"),
            "customer": (_t(spark, sf_dir, "customer"), "c_custkey"),
        },
        subjects,
        "user_id",
    )


_C202 = """
    WITH u AS (
      SELECT event_type, user_id, (user_id % 2) = 1 AS trt,
        COALESCE(SUM(CASE WHEN ts < {cut}
          THEN CAST(value AS DECIMAL(18,4)) END),
          CAST(0 AS DECIMAL(18,4))) AS x,
        COALESCE(SUM(CASE WHEN ts >= {cut}
          THEN CAST(value AS DECIMAL(18,4)) END),
          CAST(0 AS DECIMAL(18,4))) AS y
      FROM events GROUP BY 1, 2, 3
    ), g AS (
      SELECT event_type,
        COUNT(CASE WHEN NOT trt THEN 1 END) AS n_a,
        COUNT(CASE WHEN trt THEN 1 END) AS n_b,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(CAST(x AS DOUBLE)
          AS DECIMAL(38,8)) END) AS DOUBLE) AS sxa,
        CAST(SUM(CASE WHEN trt THEN CAST(CAST(x AS DOUBLE)
          AS DECIMAL(38,8)) END) AS DOUBLE) AS sxb,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(CAST(y AS DOUBLE)
          AS DECIMAL(38,8)) END) AS DOUBLE) AS sya,
        CAST(SUM(CASE WHEN trt THEN CAST(CAST(y AS DOUBLE)
          AS DECIMAL(38,8)) END) AS DOUBLE) AS syb,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(CAST(x AS DOUBLE)
          * CAST(x AS DOUBLE) AS DECIMAL(38,8)) END) AS DOUBLE) AS sxxa,
        CAST(SUM(CASE WHEN trt THEN CAST(CAST(x AS DOUBLE)
          * CAST(x AS DOUBLE) AS DECIMAL(38,8)) END) AS DOUBLE) AS sxxb,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(CAST(y AS DOUBLE)
          * CAST(y AS DOUBLE) AS DECIMAL(38,8)) END) AS DOUBLE) AS syya,
        CAST(SUM(CASE WHEN trt THEN CAST(CAST(y AS DOUBLE)
          * CAST(y AS DOUBLE) AS DECIMAL(38,8)) END) AS DOUBLE) AS syyb,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(CAST(x AS DOUBLE)
          * CAST(y AS DOUBLE) AS DECIMAL(38,8)) END) AS DOUBLE) AS sxya,
        CAST(SUM(CASE WHEN trt THEN CAST(CAST(x AS DOUBLE)
          * CAST(y AS DOUBLE) AS DECIMAL(38,8)) END) AS DOUBLE) AS sxyb
      FROM u GROUP BY 1
    ), k AS (
      SELECT *,
        n_a + n_b AS n,
        sxa + sxb AS sx, sya + syb AS sy,
        sxxa + sxxb AS sxx, sxya + sxyb AS sxy
      FROM g
    ), th AS (
      SELECT *,
        CASE WHEN n > 1 AND (sxx - sx * sx / n) / (n - 1) > 0
          THEN ((sxy - sx * sy / n) / (n - 1))
            / ((sxx - sx * sx / n) / (n - 1)) END AS theta,
        sx / n AS xbar
      FROM k
    ), f AS (
      SELECT event_type, n_a, n_b, theta,
        (syb / n_b - theta * (sxb / n_b - xbar))
          - (sya / n_a - theta * (sxa / n_a - xbar)) AS effect,
        SQRT(
          ((syya - sya * sya / n_a) / (n_a - 1)
            - 2.0 * theta * ((sxya - sxa * sya / n_a) / (n_a - 1))
            + theta * theta * ((sxxa - sxa * sxa / n_a) / (n_a - 1)))
            / n_a
          + ((syyb - syb * syb / n_b) / (n_b - 1)
            - 2.0 * theta * ((sxyb - sxb * syb / n_b) / (n_b - 1))
            + theta * theta * ((sxxb - sxb * sxb / n_b) / (n_b - 1)))
            / n_b) AS se,
        SQRT(((syya - sya * sya / n_a) / (n_a - 1)) / n_a
          + ((syyb - syb * syb / n_b) / (n_b - 1)) / n_b) AS se_raw
      FROM th
    )
    SELECT event_type, n_a, n_b,
      ROUND(theta, 6) AS theta,
      ROUND(effect, 4) AS adj_effect,
      ROUND(se, 4) AS se_adj,
      ROUND(se_raw, 4) AS se_raw,
      ROUND(CASE WHEN se_raw > 0
        THEN 1.0 - (se * se) / (se_raw * se_raw) END, 4) AS var_reduction,
      ROUND(CASE WHEN se > 0 THEN effect / se END, 4) AS z_stat,
      ROUND(CASE WHEN se > 0 THEN {p2} END, 6) AS p_value
    FROM f
"""


@query(
    "q202_cuped_adjusted_effect",
    sql=_C202.format(
        cut=_DRIFT_CUT, p2=_P2_SQL.format(z="effect / se")
    ),
)
def q202_cuped_adjusted_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced treatment effect per event type
    (``experiment.cuped_adjusted_effect``): each user's post-period
    value sum adjusted by their PRE-period sum (θ = pooled cov/var),
    arms compared on the adjusted metric — the standard sensitivity
    lever that trades one covariate column for weeks of traffic.  The
    whole estimator is one per-user decimal aggregation plus one
    conditional-moment pass (Y′ is linear in (X, Y), so its mean/var
    per arm are closed forms of the joint moments — no second scan)."""
    from streaming_feature_store_spark.operators.experiment import (
        cuped_adjusted_effect,
    )

    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    pre = F.col("ts") < cut
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("x_pre", F.when(pre, F.col("value")))
        .withColumn("y_post", F.when(~pre, F.col("value")))
    )
    return cuped_adjusted_effect(
        ev,
        ["event_type"],
        "user_id",
        (F.col("user_id") % 2) == 1,
        "x_pre",
        "y_post",
    )


@query(
    "q203_experiment_mde",
    sql="""
    WITH g AS (
      SELECT event_type,
        COUNT(CASE WHEN NOT ((user_id % 2) = 1) THEN value END) AS n_a,
        COUNT(CASE WHEN (user_id % 2) = 1 THEN value END) AS n_b,
        CAST(SUM(CASE WHEN NOT ((user_id % 2) = 1)
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS sa,
        CAST(SUM(CASE WHEN (user_id % 2) = 1
          THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS sb,
        CAST(SUM(CASE WHEN NOT ((user_id % 2) = 1)
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssa,
        CAST(SUM(CASE WHEN (user_id % 2) = 1
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssb
      FROM events GROUP BY 1
    ), f AS (
      SELECT event_type, n_a, n_b, sa / n_a AS mean_control,
        (1.96 + 0.8416) * SQRT(
          (CASE WHEN n_a > 1
            THEN (ssa - sa * sa / n_a) / (n_a - 1) END) / n_a
          + (CASE WHEN n_b > 1
            THEN (ssb - sb * sb / n_b) / (n_b - 1) END) / n_b) AS mde
      FROM g
    )
    SELECT event_type, n_a, n_b,
      ROUND(mean_control, 4) AS mean_control,
      ROUND(mde, 4) AS mde_abs,
      ROUND(CASE WHEN mean_control != 0
        THEN mde / mean_control END, 6) AS mde_rel
    FROM f
    """,
)
def q203_experiment_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning per event type
    (``experiment.minimum_detectable_effect``, α=0.05 two-sided, power
    0.80): the smallest true effect the current arm sizes and variances
    would detect — absolute and relative to the control mean — from the
    same one-pass order-independent decimal moments as the z-test
    fleet."""
    from streaming_feature_store_spark.operators.experiment import (
        minimum_detectable_effect,
    )

    ev = _t(spark, sf_dir, "events")
    return minimum_detectable_effect(
        ev, ["event_type"], (F.col("user_id") % 2) == 1, "value"
    )


_Z204 = (
    "(n_b - (n_a + n_b) * 0.5)"
    " / SQRT((n_a + n_b) * 0.5 * (1.0 - 0.5))"
)


@query(
    "q204_srm_guardrail",
    sql=f"""
    WITH g AS (
      SELECT event_type,
        COUNT(DISTINCT CASE WHEN NOT ((user_id % 2) = 1)
          THEN user_id END) AS n_a,
        COUNT(DISTINCT CASE WHEN (user_id % 2) = 1
          THEN user_id END) AS n_b
      FROM events GROUP BY 1
    )
    SELECT event_type, n_a, n_b,
      ROUND(n_b / CAST(n_a + n_b AS DOUBLE), 6) AS share_b,
      ROUND({_Z204}, 4) AS z_stat,
      ROUND({_P2_SQL.format(z=_Z204)}, 6) AS p_value,
      {_P2_SQL.format(z=_Z204)} < 0.001 AS srm_detected
    FROM g
    """,
)
def q204_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (``experiment.srm_check``): per
    event type, are the user-parity arms consistent with the designed
    50/50 split?  Units counted once (COUNT DISTINCT user — assignment
    is per-unit; row counting would weight heavy users), exact normal
    test on the binomial count, erfc p-value, alarm at the
    conventional α=0.001.  The validity check every other experiment
    query in this catalog assumes."""
    from streaming_feature_store_spark.operators.experiment import srm_check

    ev = _t(spark, sf_dir, "events")
    return srm_check(
        ev, ["event_type"], (F.col("user_id") % 2) == 1, unit_col="user_id"
    )


@query(
    "q205_small_arm_ab",
    sql=f"""
    WITH t AS (
      SELECT o_orderstatus AS status,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS o_month,
        (o_orderkey % 2) = 1 AS trt, o_totalprice AS value
      FROM orders
    ), g AS (
      SELECT status, o_year, o_month,
        COUNT(CASE WHEN NOT trt THEN value END) AS n_a,
        COUNT(CASE WHEN trt THEN value END) AS n_b,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(value AS DECIMAL(18,4)) END)
          AS DOUBLE) AS sa,
        CAST(SUM(CASE WHEN trt THEN CAST(value AS DECIMAL(18,4)) END)
          AS DOUBLE) AS sb,
        CAST(SUM(CASE WHEN NOT trt
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssa,
        CAST(SUM(CASE WHEN trt
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssb
      FROM t
      GROUP BY 1, 2, 3
    ), s AS (
      SELECT status, o_year, o_month, n_a, n_b, sa, sb,
        CASE WHEN n_a > 1 AND n_b > 1 AND {_SE2W} > 0
          THEN {_Z196} END AS z_raw,
        CASE WHEN n_a > 1 AND n_b > 1 AND {_SE2W} > 0
          THEN {_DFW} END AS df_raw
      FROM g
    )
    SELECT status, o_year, o_month, n_a, n_b,
      ROUND(sa / n_a, 4) AS mean_a,
      ROUND(sb / n_b, 4) AS mean_b,
      ROUND(z_raw, 4) AS z_stat,
      ROUND(CASE WHEN LEAST(n_a, n_b) < 30
            THEN {_tsf2_sql('ABS(z_raw)', 'df_raw')}
            ELSE {_P2_SQL.format(z='z_raw')} END, 6) AS p_value,
      LEAST(n_a, n_b) < 30 AS small_arm
    FROM s
    """,
)
def q205_small_arm_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-arm-aware A/B fleet readout (``experiment.grouped_ztest``
    with its Student-t auto-dispatch): orders split into orderkey-parity
    arms, one hypothesis per (orderstatus, year, month) cell — 2001
    cut-off months are a handful of orders (one cell even has an empty
    arm, pinning the NULL-variance path), mid-size months sit in the
    15-30 band, exactly the thin segments where the normal approximation
    over-rejects, so they price through the Hill-transform t tail at the
    Welch-Satterthwaite df; larger cells keep the normal tail.
    Both branches of the dispatch are exercised and recomputed verbatim
    by the oracle."""
    from streaming_feature_store_spark.operators.experiment import (
        grouped_ztest,
    )

    orders = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
            (F.col("o_orderkey") % 2 == 1).alias("trt"),
            F.col("o_totalprice").alias("value"),
        )
    )
    return grouped_ztest(
        orders, ["status", "o_year", "o_month"], "trt", "value"
    )


@query(
    "q206_part_name_edit_dups",
    sql="""
    WITH a AS (SELECT p_partkey, p_name, p_brand FROM part)
    SELECT x.p_partkey AS id_a, y.p_partkey AS id_b,
      levenshtein(x.p_name, y.p_name) AS edit_dist
    FROM a x JOIN a y
      ON x.p_brand = y.p_brand AND x.p_partkey < y.p_partkey
    WHERE ABS(LENGTH(x.p_name) - LENGTH(y.p_name)) <= 3
      AND levenshtein(x.p_name, y.p_name) <= 3
    """,
)
def q206_part_name_edit_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-duplicates
    (``dedup.edit_distance_near_dups``): part-name pairs within the same
    brand block at Levenshtein <= 3 — the character-level verifier the
    token-level dedup families (Jaccard/MinHash/SimHash, q22/q39/q40)
    cannot express (typos, OCR noise, singular/plural).  Pairs form only
    inside blocks (plus the lossless |len(a)-len(b)| <= d pre-filter), so
    work is the bucketed-not-all-pairs contract; the DP runs JVM-side on
    candidates only, and both engines implement identical unit-cost
    Levenshtein."""
    from streaming_feature_store_spark.operators.dedup import (
        edit_distance_near_dups,
    )

    part = _t(spark, sf_dir, "part")
    return edit_distance_near_dups(
        part, "p_partkey", "p_name", ["p_brand"], max_dist=3
    )


@query(
    "q207_value_autocorr",
    sql="""
    WITH p AS (
      SELECT event_type, value AS x,
        LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events
    ), f AS (
      SELECT event_type, x, y FROM p
      WHERE x IS NOT NULL AND y IS NOT NULL
    ), g AS (
      SELECT event_type, COUNT(*) AS n_pairs,
        CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x*x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y*y AS DECIMAL(38,8))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(x*y AS DECIMAL(38,8))) AS DOUBLE) AS sxy
      FROM f GROUP BY 1
    )
    SELECT event_type, n_pairs,
      ROUND((n_pairs*sxy - sx*sy)
        / SQRT(CASE WHEN (n_pairs*sxx - sx*sx)*(n_pairs*syy - sy*sy) > 0
               THEN (n_pairs*sxx - sx*sx)*(n_pairs*syy - sy*sy) END),
        6) AS autocorr_lag1
    FROM g
    """,
)
def q207_value_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of consecutive per-user event values, read
    per event type (``windows.lag_autocorr``): the sticky-vs-mean-
    reverting time-series feature.  One LAG window per user timeline
    (the A7 single-sort shape) then one map-side-combined decimal-moment
    aggregate; Pearson r is closed form over the merged moments, so the
    oracle recomputes the 6-dp answer exactly and constant series yield
    NULL (guarded), never a divide-by-zero."""
    from streaming_feature_store_spark.operators.windows import lag_autocorr

    ev = _t(spark, sf_dir, "events")
    return lag_autocorr(
        ev, "user_id", "ts", "value", "event_type", "event_id", lag=1
    )


@query(
    "q208_bandit_posteriors",
    sql="""
    WITH g AS (
      SELECT event_type,
        COUNT(CASE WHEN (value > 100.0) IS NOT NULL THEN 1 END) AS n_trials,
        COUNT(CASE WHEN value > 100.0 THEN 1 END) AS n_success
      FROM events GROUP BY 1
    ), f AS (
      SELECT event_type, n_trials, n_success,
        (1.0 + n_success) / (2.0 + n_trials) AS mean,
        SQRT((1.0 + n_success) / (2.0 + n_trials)
             * (1.0 - (1.0 + n_success) / (2.0 + n_trials))
             / (2.0 + n_trials + 1.0)) AS sd
      FROM g
    )
    SELECT event_type, n_trials, n_success,
      ROUND(mean, 6) AS post_mean,
      ROUND(sd, 6) AS post_sd,
      ROUND(GREATEST(0.0, mean - 1.96 * sd), 6) AS cred_lo,
      ROUND(LEAST(1.0, mean + 1.96 * sd), 6) AS cred_hi
    FROM f
    """,
)
def q208_bandit_posteriors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian bandit readout (``experiment.beta_posterior_readout``):
    each event type as an arm, success := value > 100, uniform
    Beta(1,1) prior — exact posterior mean/sd and the ±1.96·sd credible
    band a Thompson-sampling allocator consumes per batch.  One
    conditional-count aggregate; the posterior algebra is closed form,
    recomputed verbatim by the oracle.  NULL values count as neither
    trial nor success (an unlabeled trial is not a failure)."""
    from streaming_feature_store_spark.operators.experiment import (
        beta_posterior_readout,
    )

    ev = _t(spark, sf_dir, "events")
    return beta_posterior_readout(
        ev, ["event_type"], F.col("value") > 100.0
    )


@query(
    "q209_always_valid_ab",
    sql="""
    WITH t AS (
      SELECT event_type, (user_id % 2) = 1 AS trt, value FROM events
    ), g AS (
      SELECT event_type,
        COUNT(CASE WHEN NOT trt THEN value END) AS n_a,
        COUNT(CASE WHEN trt THEN value END) AS n_b,
        CAST(SUM(CASE WHEN NOT trt THEN CAST(value AS DECIMAL(18,4)) END)
          AS DOUBLE) AS sa,
        CAST(SUM(CASE WHEN trt THEN CAST(value AS DECIMAL(18,4)) END)
          AS DOUBLE) AS sb,
        CAST(SUM(CASE WHEN NOT trt
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssa,
        CAST(SUM(CASE WHEN trt
          THEN CAST(value * value AS DECIMAL(38,8)) END) AS DOUBLE) AS ssb
      FROM t GROUP BY 1
    ), m AS (
      SELECT event_type, n_a, n_b, sa, sb,
        CASE WHEN n_a > 1 THEN (ssa - sa*sa/n_a)/(n_a - 1) END AS va,
        CASE WHEN n_b > 1 THEN (ssb - sb*sb/n_b)/(n_b - 1) END AS vb
      FROM g
    ), s AS (
      SELECT event_type, n_a, n_b,
        sb/n_b - sa/n_a AS theta,
        CASE WHEN va/n_a + vb/n_b > 0 THEN va/n_a + vb/n_b END AS bigv
      FROM m
    )
    SELECT event_type, n_a, n_b,
      ROUND(theta, 4) AS effect,
      ROUND(SQRT(bigv), 6) AS se,
      ROUND(CASE WHEN bigv IS NOT NULL THEN
        LEAST(1.0, EXP(-(
          0.5 * LN(bigv / (bigv + 1.0))
          + theta * theta * 1.0 / (2.0 * bigv * (bigv + 1.0))
        ))) END, 6) AS p_always_valid
    FROM s
    """,
)
def q209_always_valid_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anytime-valid A/B monitoring (``experiment.always_valid_pvalue``):
    the mSPRT mixture-likelihood p-value (Johari et al. 2017, the
    industry fix for the peeking problem) per event type over user-parity
    arms at mixture scale τ=1.  Same one-pass decimal moments as the
    z-test fleet; the mixture statistic is pure √/ln/exp closed form, so
    the oracle recomputes statistic → p end-to-end, and degenerate or
    zero-variance arms yield NULL (guarded), never a clamp."""
    from streaming_feature_store_spark.operators.experiment import (
        always_valid_pvalue,
    )

    ev = _t(spark, sf_dir, "events")
    return always_valid_pvalue(
        ev, ["event_type"], (F.col("user_id") % 2) == 1, "value", tau=1.0
    )


@query(
    "q210_fk_orphan_audit",
    sql="""
    SELECT 'orders->customer' AS relation, COUNT(*) AS n_child,
      COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null_fk,
      COUNT(CASE WHEN o_custkey IS NOT NULL AND c_custkey IS NULL
            THEN 1 END) AS n_orphan,
      ROUND(COUNT(CASE WHEN o_custkey IS NOT NULL AND c_custkey IS NULL
            THEN 1 END) / CAST(COUNT(*) AS DOUBLE), 6) AS orphan_rate
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'lineitem->orders', COUNT(*),
      COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END),
      COUNT(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey IS NULL
            THEN 1 END),
      ROUND(COUNT(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey IS NULL
            THEN 1 END) / CAST(COUNT(*) AS DOUBLE), 6)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'lineitem->part', COUNT(*),
      COUNT(CASE WHEN l_partkey IS NULL THEN 1 END),
      COUNT(CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NULL
            THEN 1 END),
      ROUND(COUNT(CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NULL
            THEN 1 END) / CAST(COUNT(*) AS DOUBLE), 6)
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    UNION ALL
    SELECT 'lineitem->supplier', COUNT(*),
      COUNT(CASE WHEN l_suppkey IS NULL THEN 1 END),
      COUNT(CASE WHEN l_suppkey IS NOT NULL AND s_suppkey IS NULL
            THEN 1 END),
      ROUND(COUNT(CASE WHEN l_suppkey IS NOT NULL AND s_suppkey IS NULL
            THEN 1 END) / CAST(COUNT(*) AS DOUBLE), 6)
    FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    """,
)
def q210_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse referential-integrity audit
    (``profile.referential_audit``): NULL-FK and orphan counts for the
    four core relations (orders→customer, lineitem→orders/part/supplier)
    — the gate that catches a bad snapshot before inner joins silently
    drop its rows.  Each relation is one anti-join collapsed to a count
    (AQE broadcast-promotes the PK projection) plus one conditional
    aggregate; the output frame is |relations| rows."""
    from streaming_feature_store_spark.operators.profile import (
        referential_audit,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    return referential_audit(
        [
            ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
            ("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("lineitem->part", li, "l_partkey", part, "p_partkey"),
            ("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
        ]
    )


_TOKS_SQL = """
      SELECT doc_id, list_filter(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +'),
        t -> t <> '') AS l
      FROM documents
"""


@query(
    "q211_doc_lm_score",
    sql=f"""
    WITH dl AS ({_TOKS_SQL}
    ), uc AS (
      SELECT w, COUNT(*) AS c FROM (SELECT unnest(l) AS w FROM dl) GROUP BY 1
    ), v AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uc
    ), pairs AS (
      SELECT doc_id, l[j] AS a, l[j+1] AS b
      FROM dl, unnest(generate_series(1, len(l) - 1)) AS t(j)
      WHERE len(l) >= 2
    ), bc AS (
      SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2
    ), sc AS (
      SELECT doc_id,
        CAST(LN((c_ab + 0.5) / (ca.c + 0.5 * v)) AS DECIMAL(28,12)) AS lp
      FROM pairs JOIN bc USING (a, b)
      JOIN uc ca ON pairs.a = ca.w
      CROSS JOIN v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
      ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM sc GROUP BY 1
    """,
)
def q211_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram language-model fluency score
    (``text.bigram_lm_doclogprob``): mean add-0.5-smoothed bigram
    log-likelihood under the corpus's own LM — the KenLM-style quality
    filter of CCNet/RedPajama pipelines with an in-corpus model.  One
    tokenize lineage; vocabulary-bounded count tables (AQE broadcast-
    promotes them into the scoring join); each log term is a pure
    function of integer counts so both engines compute identical
    doubles, accumulated as decimal(28,12) for order independence."""
    from streaming_feature_store_spark.operators.text import (
        bigram_lm_doclogprob,
    )

    return bigram_lm_doclogprob(_t(spark, sf_dir, "documents"))


@query(
    "q212_boilerplate_phrases",
    sql=f"""
    WITH dl AS ({_TOKS_SQL}
    ), g AS (
      SELECT DISTINCT doc_id, array_to_string(l[j:j+2], ' ') AS gram
      FROM dl, unnest(generate_series(1, len(l) - 2)) AS t(j)
      WHERE len(l) >= 3
    ), c AS (
      SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents
    )
    SELECT gram, n_docs, ROUND(n_docs / nd, 6) AS doc_frac
    FROM c CROSS JOIN tot WHERE n_docs >= 5
    """,
)
def q212_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate-phrase screen
    (``text.boilerplate_ngrams``): word 3-grams recurring in >= 5
    distinct documents with their document frequency — the C4/RefinedWeb
    cleaning step that strips navigation chrome and license blurbs.
    Distinct (doc, gram) bounds the shuffle at one row per gram per doc;
    within-document repetition is q66's separate screen."""
    from streaming_feature_store_spark.operators.text import (
        boilerplate_ngrams,
    )

    return boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), n=3, min_docs=5
    )


@query(
    "q213_jackknife_ratio_se",
    sql="""
    WITH u AS (
      SELECT event_type, user_id,
        COALESCE(SUM(CAST(value AS DECIMAL(18,4))),
                 CAST(0 AS DECIMAL(18,4))) AS x,
        COALESCE(SUM(CAST(1.0 AS DECIMAL(18,4))),
                 CAST(0 AS DECIMAL(18,4))) AS y
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, SUM(x) AS sx, SUM(y) AS sy FROM u GROUP BY 1
    ), j AS (
      SELECT u.event_type,
        CAST(t.sx AS DOUBLE) AS dsx, CAST(t.sy AS DOUBLE) AS dsy,
        CASE WHEN CAST(t.sy - u.y AS DOUBLE) != 0
          THEN CAST(t.sx - u.x AS DOUBLE) / CAST(t.sy - u.y AS DOUBLE)
        END AS ri
      FROM u JOIN t USING (event_type)
    ), g AS (
      SELECT event_type, MAX(dsx) AS gx, MAX(dsy) AS gy,
        COUNT(ri) AS n_loo,
        CAST(SUM(CAST(ri AS DECIMAL(38,12))) AS DOUBLE) AS sr,
        CAST(SUM(CAST(ri * ri AS DECIMAL(38,12))) AS DOUBLE) AS srr
      FROM j GROUP BY 1
    )
    SELECT event_type, n_loo AS n_units,
      ROUND(gx / CASE WHEN gy != 0 THEN gy END, 6) AS ratio,
      ROUND(SQRT(CASE WHEN n_loo > 1 AND srr - sr*sr/n_loo >= 0
        THEN (srr - sr*sr/n_loo) * (n_loo - 1) / n_loo END), 6) AS se_jack
    FROM g
    """,
)
def q213_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-user-out jackknife SE for value-per-event
    (``experiment.jackknife_ratio_se``): the deterministic resampling
    cross-check for q198's delta-method linearization — agreement
    validates the approximation, divergence flags ratio-dominating
    heavy-tail users.  Closed form over per-unit decimal sums (no RNG):
    one unit aggregation, a broadcast totals join, one moment pass over
    the pseudo-values."""
    from streaming_feature_store_spark.operators.experiment import (
        jackknife_ratio_se,
    )

    ev = _t(spark, sf_dir, "events")
    return jackknife_ratio_se(
        ev, "user_id", ["event_type"], "value", F.lit(1.0)
    )


@query(
    "q214_leakage_screen",
    sql="""
    WITH long AS (
      SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS x,
        CAST(CAST(l_returnflag = 'R' AS INT) AS DOUBLE) AS y FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE),
        CAST(CAST(l_returnflag = 'R' AS INT) AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_discount', CAST(l_discount AS DOUBLE),
        CAST(CAST(l_returnflag = 'R' AS INT) AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_tax', CAST(l_tax AS DOUBLE),
        CAST(CAST(l_returnflag = 'R' AS INT) AS DOUBLE) FROM lineitem
    ), f AS (
      SELECT * FROM long WHERE x IS NOT NULL AND y IS NOT NULL
    ), g AS (
      SELECT feature, COUNT(*) AS n,
        CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x*x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y*y AS DECIMAL(38,8))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(x*y AS DECIMAL(38,8))) AS DOUBLE) AS sxy
      FROM f GROUP BY 1
    )
    SELECT feature, n,
      ROUND((n*sxy - sx*sy)
        / SQRT(CASE WHEN (n*sxx - sx*sx)*(n*syy - sy*sy) > 0
               THEN (n*sxx - sx*sx)*(n*syy - sy*sy) END), 6) AS r_pb,
      COALESCE(ABS((n*sxy - sx*sy)
        / SQRT(CASE WHEN (n*sxx - sx*sx)*(n*syy - sy*sy) > 0
               THEN (n*sxx - sx*sx)*(n*syy - sy*sy) END)) > 0.5,
        FALSE) AS flagged
    FROM g
    """,
)
def q214_leakage_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-leakage screen (``profile.label_leakage_screen``):
    point-biserial correlation of each lineitem numeric feature against
    the returned-flag label, flagging |r| > 0.5 — the pre-training
    hygiene gate that catches outcome-derived features before they fake
    offline metrics.  One melted pass, per-feature decimal moments,
    closed-form r; zero-variance features yield NULL (guarded)."""
    from streaming_feature_store_spark.operators.profile import (
        label_leakage_screen,
    )

    li = _t(spark, sf_dir, "lineitem")
    return label_leakage_screen(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        F.col("l_returnflag") == "R",
        threshold=0.5,
    )


@query(
    "q215_event_rate_ratio",
    sql=f"""
    WITH t AS (
      SELECT event_type, user_id, (user_id % 2) = 1 AS trt FROM events
    ), g AS (
      SELECT event_type,
        COUNT(CASE WHEN NOT trt THEN 1 END) AS c_a,
        COUNT(CASE WHEN trt THEN 1 END) AS c_b,
        COUNT(DISTINCT CASE WHEN NOT trt THEN user_id END) AS u_a,
        COUNT(DISTINCT CASE WHEN trt THEN user_id END) AS u_b
      FROM t GROUP BY 1
    ), s AS (
      SELECT event_type, c_a, c_b, u_a, u_b,
        c_a / CAST(CASE WHEN u_a > 0 THEN u_a END AS DOUBLE) AS rate_a,
        c_b / CAST(CASE WHEN u_b > 0 THEN u_b END AS DOUBLE) AS rate_b
      FROM g
    ), r AS (
      SELECT *, CASE WHEN rate_a > 0 AND rate_b > 0
        THEN rate_b / rate_a END AS ratio FROM s
    ), z AS (
      SELECT *, LN(ratio) / SQRT(1.0 / c_a + 1.0 / c_b) AS z_raw FROM r
    )
    SELECT event_type, c_a, c_b, u_a, u_b,
      ROUND(rate_a, 6) AS rate_a,
      ROUND(rate_b, 6) AS rate_b,
      ROUND(ratio, 6) AS rate_ratio,
      ROUND(z_raw, 4) AS z_stat,
      ROUND(CASE WHEN z_raw IS NOT NULL
        THEN {_P2_SQL.format(z='z_raw')} END, 6) AS p_value
    FROM z
    """,
)
def q215_event_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-metric A/B readout (``experiment.rate_ratio_test``): events
    per distinct user compared between user-parity arms with the log
    rate-ratio Wald test — the Poisson-regression special case, the
    right tool when the metric is "how often" (multiplicative lift +
    variance-stabilized for skewed counts).  One aggregate pass, erfc
    p-value, zero-event arms yield NULL (guarded)."""
    from streaming_feature_store_spark.operators.experiment import (
        rate_ratio_test,
    )

    ev = _t(spark, sf_dir, "events")
    return rate_ratio_test(
        ev, ["event_type"], (F.col("user_id") % 2) == 1, "user_id"
    )


@query(
    "q216_conversion_ztest",
    sql=f"""
    WITH t AS (
      SELECT event_type, (user_id % 2) = 1 AS trt,
        CASE WHEN value IS NOT NULL THEN value > 100.0 END AS ok
      FROM events
    ), g AS (
      SELECT event_type,
        COUNT(CASE WHEN NOT trt AND ok IS NOT NULL THEN 1 END) AS n_a,
        COUNT(CASE WHEN trt AND ok IS NOT NULL THEN 1 END) AS n_b,
        COUNT(CASE WHEN NOT trt AND ok THEN 1 END) AS s_a,
        COUNT(CASE WHEN trt AND ok THEN 1 END) AS s_b
      FROM t GROUP BY 1
    ), s AS (
      SELECT event_type, n_a, n_b,
        s_a / CAST(CASE WHEN n_a > 0 THEN n_a END AS DOUBLE) AS rate_a,
        s_b / CAST(CASE WHEN n_b > 0 THEN n_b END AS DOUBLE) AS rate_b,
        (s_a + s_b) / CAST(n_a + n_b AS DOUBLE) AS pool
      FROM g
    ), z AS (
      SELECT *,
        (rate_b - rate_a) / SQRT(CASE WHEN
          pool * (1.0 - pool) * (1.0/n_a + 1.0/n_b) > 0
          THEN pool * (1.0 - pool) * (1.0/n_a + 1.0/n_b) END) AS z_raw
      FROM s
    )
    SELECT event_type, n_a, n_b,
      ROUND(rate_a, 6) AS rate_a,
      ROUND(rate_b, 6) AS rate_b,
      ROUND(z_raw, 4) AS z_stat,
      ROUND(CASE WHEN z_raw IS NOT NULL
        THEN {_P2_SQL.format(z='z_raw')} END, 6) AS p_value
    FROM z
    """,
)
def q216_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-rate A/B test (``experiment.proportions_ztest``): the
    textbook pooled-variance two-proportion z-test per event type
    (conversion := value > 100), user-parity arms.  Pooled variance is
    the H0-correct denominator auditors expect to reproduce; degenerate
    pooled rates (0 or 1) yield NULL (guarded).  NULL values count as
    neither trial nor success."""
    from streaming_feature_store_spark.operators.experiment import (
        proportions_ztest,
    )

    ev = _t(spark, sf_dir, "events")
    return proportions_ztest(
        ev, ["event_type"], (F.col("user_id") % 2) == 1,
        F.col("value") > 100.0,
    )


@query(
    "q217_dau_stickiness",
    sql="""
    WITH days AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
    ), dau AS (
      SELECT d, COUNT(*) AS dau FROM days GROUP BY 1
    ), span AS (
      SELECT MAX(d) AS dmax FROM days
    ), contrib AS (
      SELECT DISTINCT u, CAST(unnest(generate_series(
        CAST(d AS TIMESTAMP),
        CAST(LEAST(d + INTERVAL 6 DAY, CAST(dmax AS TIMESTAMP)) AS TIMESTAMP),
        INTERVAL 1 DAY)) AS DATE) AS rd
      FROM days CROSS JOIN span
    ), wau AS (
      SELECT rd, COUNT(*) AS wau FROM contrib GROUP BY 1
    )
    SELECT rd AS day, COALESCE(dau, 0) AS dau, wau,
      ROUND(COALESCE(dau, 0) / CAST(wau AS DOUBLE), 6) AS stickiness
    FROM wau LEFT JOIN dau ON rd = d
    """,
)
def q217_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day-active stickiness per calendar day
    (``behavior.active_user_stickiness``): exact trailing-window
    DISTINCT users with NO window-DISTINCT aggregate (neither engine has
    one) and no per-row sets — each deduplicated (user, active-day)
    explodes to the <= 7 report days it covers, then (user, report-day)
    dedup + count.  Fanout is exactly window_days x user-days; identical
    integer counts in both engines."""
    from streaming_feature_store_spark.operators.behavior import (
        active_user_stickiness,
    )

    ev = _t(spark, sf_dir, "events")
    return active_user_stickiness(ev, "user_id", "ts", window_days=7)


@query(
    "q218_cohort_ltv",
    sql="""
    WITH first AS (
      SELECT o_custkey, MIN(o_orderdate) AS f FROM orders GROUP BY 1
    ), sized AS (
      SELECT CAST(EXTRACT(YEAR FROM f) AS BIGINT) AS cohort_year,
        COUNT(*) AS cohort_users
      FROM first GROUP BY 1
    ), j AS (
      SELECT CAST(EXTRACT(YEAR FROM f) AS BIGINT) AS cohort_year,
        CAST(EXTRACT(YEAR FROM o_orderdate) - EXTRACT(YEAR FROM f)
          AS BIGINT) AS age_years,
        o_totalprice AS v
      FROM orders JOIN first USING (o_custkey)
    ), cells AS (
      SELECT cohort_year, age_years,
        SUM(CAST(v AS DECIMAL(18,4))) AS rev
      FROM j GROUP BY 1, 2
    ), c2 AS (
      SELECT *, SUM(rev) OVER (
        PARTITION BY cohort_year ORDER BY age_years) AS cum
      FROM cells
    )
    SELECT c2.cohort_year, age_years, cohort_users,
      ROUND(CAST(rev AS DOUBLE), 4) AS rev,
      ROUND(CAST(cum AS DOUBLE) / cohort_users, 6) AS cum_ltv_per_user
    FROM c2 JOIN sized USING (cohort_year)
    """,
)
def q218_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve (``behavior.cohort_ltv``): customers
    grouped by first-order year, cumulative per-capita revenue by
    account age — the growth-team curve for "do newer cohorts monetize
    faster".  Three bounded passes (first-order shuffle, decimal cell
    sums on the |cohorts x ages| key, running sum over each cohort's
    tiny age axis); cohort size divides at the end so curves compare
    across cohort sizes."""
    from streaming_feature_store_spark.operators.behavior import cohort_ltv

    return cohort_ltv(_t(spark, sf_dir, "orders"))


@query(
    "q219_t_closeness",
    sql="""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment FROM customer
      WHERE c_mktsegment IS NOT NULL
    ), gv AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS cgv
      FROM base GROUP BY 1, 2
    ), g AS (
      SELECT c_nationkey, COUNT(*) AS cg FROM base GROUP BY 1
    ), v AS (
      SELECT c_mktsegment, COUNT(*) AS cv FROM base GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS nn FROM base
    ), j AS (
      SELECT gv.c_nationkey, cg,
        cgv / CAST(cg AS DOUBLE) AS pg,
        cv / CAST(nn AS DOUBLE) AS p
      FROM gv JOIN g USING (c_nationkey)
      JOIN v USING (c_mktsegment) CROSS JOIN n
    ), s AS (
      SELECT c_nationkey, cg,
        CAST(SUM(CAST(ABS(pg - p) - p AS DECIMAL(38,12))) AS DOUBLE) AS sm
      FROM j GROUP BY 1, 2
    )
    SELECT c_nationkey, cg AS group_rows,
      ROUND(0.5 * (1.0 + sm), 6) AS tvd,
      0.5 * (1.0 + sm) <= 0.3 AS t_close
    FROM s
    """,
)
def q219_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (``profile.t_closeness_report``): per-nation
    total-variation distance between the group's market-segment
    distribution and the global one — the distributional privacy gate
    above l-diversity (many distinct values can still leak when their
    MIX is skewed).  Absent (group, value) cells are never materialized:
    TVD folds their p_global mass into a closed form over present cells
    only; three bounded aggregates + broadcast value table."""
    from streaming_feature_store_spark.operators.profile import (
        t_closeness_report,
    )

    cust = _t(spark, sf_dir, "customer")
    return t_closeness_report(
        cust, ["c_nationkey"], "c_mktsegment", t_threshold=0.3
    )


@query(
    "q220_forecast_eval",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT event_type, y,
        LAG(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS m,
        LAG(y, 7) OVER (PARTITION BY event_type ORDER BY d) AS s
      FROM daily
    ), f AS (
      SELECT * FROM p WHERE m IS NOT NULL AND s IS NOT NULL
    ), g AS (
      SELECT event_type, COUNT(*) AS n_eval,
        CAST(SUM(CAST(ABS(y - m) AS DECIMAL(28,8))) AS DOUBLE) AS sm,
        CAST(SUM(CAST(ABS(y - s) AS DECIMAL(28,8))) AS DOUBLE) AS ss
      FROM f GROUP BY 1
    )
    SELECT event_type, n_eval,
      ROUND(sm / n_eval, 6) AS mae_model,
      ROUND(ss / n_eval, 6) AS mae_naive,
      ROUND((sm / n_eval)
        / CASE WHEN ss / n_eval > 0 THEN ss / n_eval END, 6) AS mase
    FROM g
    """,
)
def q220_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline eval (``behavior.forecast_baseline_eval``):
    per event type, MAE of the 1-day persistence forecast vs the 7-day
    seasonal-naive forecast over daily event counts, and their
    MASE-style ratio — the scale-free sanity floor a forecasting model
    must clear.  Both baselines restricted to the same eval rows; two
    LAG frames over one per-series sort; decimal error accumulation."""
    from streaming_feature_store_spark.operators.behavior import (
        forecast_baseline_eval,
    )

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("y"))
    )
    return forecast_baseline_eval(
        daily, "event_type", "d", "y", lag_model=1, lag_naive=7
    )


@query(
    "q221_incremental_minhash",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
      ROUND(n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE), 6)
        AS jaccard,
      CASE WHEN doc_a % 3 = 0 OR doc_b % 3 = 0
        THEN 'delta' ELSE 'base' END AS src
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
    """,
)
def q221_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup-against-index (``dedup.minhash_index_merge``,
    round 9): the corpus is split into a base (doc_id % 3 != 0) and a
    daily-delta (doc_id % 3 == 0); the base is indexed ONCE
    (``build_minhash_index`` — band hashes + shingle-hash arrays, one
    row/doc), then the delta band-joins against the persisted index and
    only delta-involving candidates are exact-Jaccard verified.  The
    ``src`` column marks which phase emitted each pair, and the oracle
    recomputes it from the split rule — so the gate checks BOTH that
    base-pairs ∪ delta-pairs ≡ the full recompute (signatures are
    per-doc facts, so incremental candidates ≡ full-run candidates by
    construction) AND that every pair landed in the right phase.  At
    100 TB the delta side broadcasts; the index is scanned, never
    re-shingled."""
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_merge,
        minhash_index_pairs,
    )

    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    # in production the index is parquet-backed (tools/scale_r9_probe);
    # in this self-contained query it is built inline and consumed by
    # both the base-pairs branch and the merge — persist it once
    idx = persist_tracked(build_minhash_index(base))
    base_pairs = minhash_index_pairs(idx, threshold=0.5).withColumn(
        "src", F.lit("base")
    )
    new_pairs, _ = minhash_index_merge(delta, idx, threshold=0.5)
    return base_pairs.unionByName(new_pairs.withColumn("src", F.lit("delta")))


@query(
    "q222_incremental_exact_screen",
    sql="""
    WITH delta AS (
      SELECT doc_id + 100000 AS doc_id,
        CASE WHEN doc_id % 3 = 0 THEN text
          ELSE text || ' novelsuffix' END AS text
      FROM documents
    ), b AS (
      SELECT md5(text) AS fingerprint, MIN(doc_id) AS first_doc_id
      FROM documents GROUP BY 1
    )
    SELECT d.doc_id, md5(d.text) AS fingerprint,
      b.first_doc_id AS match_id,
      b.first_doc_id IS NOT NULL AS is_corpus_dup
    FROM delta d LEFT JOIN b ON md5(d.text) = b.fingerprint
    """,
)
def q222_incremental_exact_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT-dup ingest screen
    (``dedup.fingerprint_index_merge``): a simulated re-crawl delta —
    every corpus doc returns under a new id, byte-identical for
    doc_id % 3 == 0 and with a trailing novel token otherwise — is
    screened against the persisted fingerprint index of the existing
    corpus.  Re-crawled docs must flag ``is_corpus_dup`` with the
    original representative id; modified docs must pass as novel.  The
    cheap first tier of the daily ingest path (byte-identical re-crawls
    dominate web-corpus duplication and never need shingles); md5 keys,
    delta side broadcasts.  The companion index upsert is pinned by
    tests/test_dedup.py::test_fingerprint_index_merge."""
    from streaming_feature_store_spark.operators.dedup import (
        exact_dup_groups,
        fingerprint_index_merge,
    )

    docs = _t(spark, sf_dir, "documents")
    delta = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" novelsuffix")))
        .alias("text"),
    )
    idx = exact_dup_groups(docs)
    screen, _ = fingerprint_index_merge(delta, idx)
    return screen


@query(
    "q223_incremental_neardup_screen",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b,
        ROUND(n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE), 6)
          AS jaccard
      FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
        AND (doc_a % 3 = 0 OR doc_b % 3 = 0)
    ), sided AS (
      SELECT doc_a AS doc_id, doc_b AS match_id, jaccard FROM pairs
        WHERE doc_a % 3 = 0
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS match_id, jaccard FROM pairs
        WHERE doc_b % 3 = 0
    ), best AS (
      SELECT doc_id, match_id AS best_match_id, jaccard AS best_jaccard,
        ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY jaccard DESC, match_id ASC) AS rn
      FROM sided
    )
    SELECT d.doc_id,
      b.best_match_id IS NOT NULL AS is_near_dup,
      b.best_match_id, b.best_jaccard,
      CASE WHEN b.best_match_id IS NOT NULL
        THEN b.best_match_id % 3 != 0 END AS match_in_index
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
    """,
)
def q223_incremental_neardup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc ingest gate over the incremental merge
    (``dedup.minhash_index_screen``): same base/delta split as q221, but
    the output is the DECISION form — one row per delta doc with its
    near-dup flag, best-matching doc (lowest id on jaccard ties) and
    best jaccard; novel docs carry NULLs.  The oracle recomputes the
    argmax from the exact all-pairs join restricted to delta-involving
    pairs, so the gate checks candidate completeness AND the
    deterministic tie-break."""
    from streaming_feature_store_spark.cacheutil import persist_tracked
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_screen,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    idx = persist_tracked(build_minhash_index(base))
    screen, _ = minhash_index_screen(delta, idx, threshold=0.5)
    return screen


@query(
    "q224_ivf_persisted_lifecycle",
    sql=f"""
    WITH {_TWIN_SQL}, q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
    ), scored AS (
      SELECT query_id, c.vec_id AS nbr_id,
        ROUND(list_dot_product(c.v, qv)
              / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qv, qv))),
              6) AS cosine
      FROM corpus c CROSS JOIN q
      WHERE c.vec_id <> query_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= 1
    """,
)
def q224_ivf_persisted_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full persisted-ANN-index lifecycle under the q58 oracle: the BASE
    embeddings are indexed and SAVED (``save_ivf_index``), the planted
    twins arrive later as a delta and are APPENDED to the persisted cells
    (``ivf_index_merge`` — assign to existing centroids, touched
    partitions only), and the queries run against the merged index via
    ``ivf_topk_persisted``.  The exact top-1 (each query's twin) is
    reachable iff the delta really landed in the probed cells — the
    twin's argmax cell equals its original's under the same centroid
    matrix, so nprobe=4 retrieves it deterministically, exactly as q58
    does for the build-per-call path.  The index lives under a
    per-invocation UNIQUE temp path (uuid suffix — two concurrent harness
    runs at the same sf can never interleave save → append → read on a
    shared directory, VERDICT r9 finding #2), the result is a tracked
    local checkpoint (``cacheutil.local_checkpoint_tracked``), so its
    lineage no longer reads the path, and the directory is removed before
    returning so repeated invocations leave nothing behind."""
    import os
    import shutil
    import tempfile
    import uuid

    from streaming_feature_store_spark.operators.similarity import (
        as_double_vec,
        ivf_index_merge,
        ivf_topk_persisted,
        save_ivf_index,
    )

    base = as_double_vec(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    twins = _twin_corpus(spark, sf_dir).filter(F.col("vec_id") >= 1000000)
    path = os.path.join(
        tempfile.gettempdir(), f"sfs_q224_ivf_{uuid.uuid4().hex}"
    )
    try:
        save_ivf_index(base, path, nlist=16)
        ivf_index_merge(spark, path, twins)
        out = ivf_topk_persisted(
            spark, path, base.filter(F.col("vec_id") < 10), k=1, nprobe=4
        )
        return local_checkpoint_tracked(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "q225_drift_baseline_index",
    sql="""
    WITH e AS (
      SELECT event_id % 5 = 4 AS grp, value AS v,
        CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS h
      FROM events
    ), b AS (
      SELECT 'value' AS feature, grp,
        CASE WHEN v >= 200 THEN 5 WHEN v >= 100 THEN 4 WHEN v >= 50 THEN 3
             WHEN v >= 25 THEN 2 WHEN v >= 10 THEN 1 ELSE 0 END AS bucket
      FROM e WHERE v IS NOT NULL
      UNION ALL
      SELECT 'hour' AS feature, grp,
        CASE WHEN h >= 20 THEN 5 WHEN h >= 16 THEN 4 WHEN h >= 12 THEN 3
             WHEN h >= 8 THEN 2 WHEN h >= 4 THEN 1 ELSE 0 END AS bucket
      FROM e WHERE h IS NOT NULL
    ), c AS (
      SELECT feature, bucket,
        SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS ne,
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS na
      FROM b GROUP BY 1, 2
    ), t AS (
      SELECT feature, SUM(ne) AS te, SUM(na) AS ta FROM c GROUP BY 1
    )
    SELECT c.feature,
      ROUND(SUM(
          ((na / CAST(ta AS DOUBLE) + 1e-6) - (ne / CAST(te AS DOUBLE) + 1e-6))
          * ln((na / CAST(ta AS DOUBLE) + 1e-6)
               / (ne / CAST(te AS DOUBLE) + 1e-6))
        ), 6) AS psi,
      CAST(SUM(ne) AS BIGINT) AS n_expected,
      CAST(SUM(na) AS BIGINT) AS n_actual
    FROM c JOIN t ON c.feature = t.feature
    GROUP BY 1
    """,
)
def q225_drift_baseline_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted drift-baseline histograms (``drift.histogram_index`` +
    ``histogram_index_merge`` + ``psi_from_histograms``, round 9): the
    reference recomputes the expected distribution from the full training
    frame on every drift check (training/drift_check.py:138-169); at
    100 TB the production shape is a persisted per-feature histogram over
    fixed edges — counts are additive, so the daily delta merges with one
    tiny aggregate and PSI against the baseline never rescans history.
    Here the stream splits into base (event_id % 5 <= 2), a merged delta
    (== 3) and the current window (== 4); the oracle recomputes PSI from
    the raw rows, pinning merge(index(base), index(delta)) ==
    index(base UNION delta) exactly.  Two features (value, hour) ride one
    wide map-side-combined aggregate per phase."""
    from streaming_feature_store_spark.operators.drift import (
        histogram_index,
        histogram_index_merge,
        psi_from_histograms,
    )

    specs = {
        "value": [10.0, 25.0, 50.0, 100.0, 200.0],
        "hour": [4.0, 8.0, 12.0, 16.0, 20.0],
    }
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "value", F.hour("ts").cast("double").alias("hour")
    )
    base = ev.filter(F.col("event_id") % 5 <= 2)
    delta = ev.filter(F.col("event_id") % 5 == 3)
    current = ev.filter(F.col("event_id") % 5 == 4)
    merged = histogram_index_merge(
        histogram_index(base, specs), histogram_index(delta, specs)
    )
    return psi_from_histograms(merged, histogram_index(current, specs))


@query(
    "q226_histogram_quantiles",
    sql="""
    WITH e AS (
      SELECT value AS v, CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS h
      FROM events
    ), b AS (
      SELECT 'value' AS feature,
        CASE WHEN v >= 200 THEN 5 WHEN v >= 100 THEN 4 WHEN v >= 50 THEN 3
             WHEN v >= 25 THEN 2 WHEN v >= 10 THEN 1 ELSE 0 END AS bucket
      FROM e WHERE v IS NOT NULL
      UNION ALL
      SELECT 'hour' AS feature,
        CASE WHEN h >= 20 THEN 5 WHEN h >= 16 THEN 4 WHEN h >= 12 THEN 3
             WHEN h >= 8 THEN 2 WHEN h >= 4 THEN 1 ELSE 0 END AS bucket
      FROM e WHERE h IS NOT NULL
    ), c AS (
      SELECT feature, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2
    ), bounds(feature, bucket, lo, hi) AS (
      VALUES
        ('value', 0, 10.0, 10.0), ('value', 1, 10.0, 25.0),
        ('value', 2, 25.0, 50.0), ('value', 3, 50.0, 100.0),
        ('value', 4, 100.0, 200.0), ('value', 5, 200.0, 200.0),
        ('hour', 0, 4.0, 4.0), ('hour', 1, 4.0, 8.0),
        ('hour', 2, 8.0, 12.0), ('hour', 3, 12.0, 16.0),
        ('hour', 4, 16.0, 20.0), ('hour', 5, 20.0, 20.0)
    ), cum AS (
      SELECT c.feature, c.bucket, lo, hi, CAST(n AS DOUBLE) AS n,
        CAST(SUM(n) OVER (
          PARTITION BY c.feature ORDER BY c.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS cum,
        CAST(SUM(n) OVER (PARTITION BY c.feature) AS DOUBLE) AS total
      FROM c JOIN bounds ON c.feature = bounds.feature
        AND c.bucket = bounds.bucket
    ), qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q)
    SELECT feature, q,
      ROUND(lo + (q * total - (cum - n)) / n * (hi - lo), 6) AS estimate
    FROM cum CROSS JOIN qs
    WHERE cum >= q * total AND cum - n < q * total AND total > 0
    """,
)
def q226_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates from the persisted histogram index
    (``drift.histogram_quantiles``, round 9): the mergeable-summary answer
    to percentile monitoring at 100 TB — the "sketch" is the additive
    fixed-edge histogram (built once, merged daily via
    ``histogram_index_merge``), and p25/p50/p75/p95 come from a closed
    linear interpolation over |features| x |buckets| rows, so the estimate
    is bit-deterministic and merge-order-independent (unlike KLL/GK).  The
    oracle reproduces the interpolation exactly from raw rows, pinning
    index counts ≡ raw counts AND the interpolation arithmetic."""
    from streaming_feature_store_spark.operators.drift import (
        histogram_index,
        histogram_quantiles,
    )

    specs = {
        "value": [10.0, 25.0, 50.0, 100.0, 200.0],
        "hour": [4.0, 8.0, 12.0, 16.0, 20.0],
    }
    ev = _t(spark, sf_dir, "events").select(
        "value", F.hour("ts").cast("double").alias("hour")
    )
    return histogram_quantiles(
        histogram_index(ev, specs), specs, [0.25, 0.5, 0.75, 0.95]
    )


@query(
    "q227_retrieval_recall",
    sql="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), et AS (
      SELECT vec_id, v[1:16] AS v FROM e
    ), st AS (
      SELECT a.vec_id AS q, b.vec_id AS i,
        ROUND(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ), rt AS (
      SELECT q, i,
        ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, i) AS rk
      FROM st
    ), sc AS (
      SELECT a.vec_id AS q, b.vec_id AS i,
        ROUND(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      FROM et a JOIN et b ON a.vec_id <> b.vec_id
    ), rc AS (
      SELECT q, i,
        ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, i) AS rk
      FROM sc
    ), tt AS (SELECT q, i FROM rt WHERE rk <= 5),
    cc AS (SELECT q, i, rk FROM rc WHERE rk <= 5),
    hits AS (
      SELECT tt.q, tt.i FROM tt
      SEMI JOIN cc ON tt.q = cc.q AND tt.i = cc.i
    ), nn1 AS (SELECT q, i FROM rt WHERE rk = 1),
    rr AS (
      SELECT COALESCE(CAST(1.0 / cc.rk AS DECIMAL(18,12)),
                      CAST(0 AS DECIMAL(18,12))) AS rr
      FROM nn1 LEFT JOIN cc ON nn1.q = cc.q AND nn1.i = cc.i
    )
    SELECT 5 AS k,
      (SELECT CAST(COUNT(DISTINCT q) AS BIGINT) FROM tt) AS n_queries,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tt) AS n_truth_pairs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
      ROUND((SELECT COUNT(*) FROM hits)
            / CAST((SELECT COUNT(*) FROM tt) AS DOUBLE), 6) AS recall_at_k,
      ROUND(CAST((SELECT SUM(rr) FROM rr) AS DOUBLE)
            / CAST((SELECT COUNT(*) FROM rr) AS DOUBLE), 6) AS mrr_at_k
    """,
)
def q227_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality report (``ml.ranking.ann_recall_report``, round
    9): recall@5 and MRR@5 of a CHEAPENED retrieval path — cosine over the
    first 16 of 64 dims, the dimension-truncation shortcut — against the
    exact full-vector top-5 ground truth (both via the GEMM kernel,
    ``similarity.cosine_topk_blas``).  The offline eval every ANN/quantize/
    truncate decision runs before shipping an index at 100 TB; the
    sign-LSH/IVF recall floors live in tests/test_ann_recall.py (their
    centroids aren't SQL-reproducible), while THIS query pins the report
    arithmetic end-to-end against a full SQL recompute of both rankings.
    Micro-averaged recall stays in integer counts until one final
    division; reciprocal ranks accumulate as decimals (order-independent)."""
    from streaming_feature_store_spark.ml.ranking import ann_recall_report
    from streaming_feature_store_spark.operators.similarity import (
        cosine_topk_blas,
    )

    emb = _t(spark, sf_dir, "embeddings")
    truth = cosine_topk_blas(emb, k=5)
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    cand = cosine_topk_blas(trunc, k=5)
    return ann_recall_report(truth, cand, k=5)


@query(
    "q228_incremental_distinct",
    sql="""
    WITH e AS (
      SELECT event_type, user_id,
        CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h,
        CAST(ts AS DATE) AS d
      FROM events
    ), b AS (
      SELECT DISTINCT event_type, user_id, h FROM e
      WHERE d < DATE '2024-01-22'
    ), dd AS (
      SELECT DISTINCT event_type, user_id, h FROM e
      WHERE d >= DATE '2024-01-22'
    ), nw AS (
      SELECT dd.event_type, dd.user_id, dd.h FROM dd
      ANTI JOIN b ON dd.event_type = b.event_type
        AND dd.user_id = b.user_id AND dd.h = b.h
    ), fl AS (
      SELECT DISTINCT event_type, user_id, h FROM e
    )
    SELECT f.event_type, f.n_distinct, COALESCE(n.n_new, 0) AS n_new
    FROM (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM fl GROUP BY 1
    ) f LEFT JOIN (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM nw GROUP BY 1
    ) n ON f.event_type = n.event_type
    """,
)
def q228_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-cardinality index
    (``profile.distinct_index_merge``, round 9): activity cells are
    (user, hour-of-day) tuples per event type; the persisted index holds
    the distinct cells seen through Jan 21, and the last-9-days delta
    merges against it without rescanning history.  The report is the
    ingest readout: per event type, total distinct cells after the merge
    and how many cells this delta saw FIRST — the "new entity" signal
    (first-seen devices, vocabulary growth) that a mergeable HLL sketch
    (streaming/sketches.py) cannot answer.  The oracle recomputes both
    numbers from raw rows, pinning merge(index(base), delta) ≡
    index(base UNION delta) and the novelty anti-join.  At 100 TB the
    delta-distinct side broadcasts; the index is scanned, never
    re-shuffled."""
    from streaming_feature_store_spark.operators.profile import (
        distinct_index_merge,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.hour("ts").cast("int").alias("h"),
        F.to_date("ts").alias("d"),
    )
    cut = F.lit("2024-01-22").cast("date")
    base_idx = (
        ev.filter(F.col("d") < cut)
        .select("event_type", "user_id", "h")
        .distinct()
    )
    delta = ev.filter(F.col("d") >= cut)
    report, _ = distinct_index_merge(
        delta, base_idx, ["event_type"], ["user_id", "h"]
    )
    return report


@query(
    "q229_line_dedup",
    sql="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), ch AS (
      SELECT doc_id,
        list_transform(
          generate_series(0, CAST(ceil(len(l) / 4.0) AS INT) - 1),
          i -> array_to_string(l[(i*4+1):(i*4+4)], ' ')) AS chunks
      FROM tok
    ), lines AS (
      SELECT doc_id,
        unnest(list_transform(chunks, (x, i) -> {'pos': i, 'line': x}),
               recursive := true)
      FROM ch
    ), freq AS (
      SELECT line FROM lines
      GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
    ), kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l ANTI JOIN freq f ON l.line = f.line
    ), tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lines GROUP BY 1
    ), re AS (
      SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
        CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY 1
    )
    SELECT t.doc_id, COALESCE(re.clean_text, '') AS clean_text, t.n_lines,
      COALESCE(re.n_kept, 0) AS n_kept,
      ROUND(COALESCE(re.n_kept, 0) / CAST(t.n_lines AS DOUBLE), 6)
        AS kept_frac
    FROM tot t LEFT JOIN re ON t.doc_id = re.doc_id
    """,
)
def q229_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup (``text.line_dedup``, round 9) — the
    CCNet/RefinedWeb boilerplate pass document-level dedup can't do:
    a "line" here is a fixed 4-token window (the corpus has no natural
    newlines; the operator takes any segmentation via ``lines_col``),
    and every line occurring in >= 2 distinct documents is stripped from
    ALL documents, which reassemble from their surviving lines in
    original order.  Output: per-doc cleaned text + retention stats.
    The oracle rebuilds the chunking, the corpus frequency screen, the
    anti-join and the ordered reassembly in SQL — pinning position-exact
    reconstruction, not just counts."""
    from streaming_feature_store_spark.operators.text import (
        line_dedup,
        token_chunk_text,
    )

    docs = _t(spark, sf_dir, "documents")
    # Arrow-batched chunking: the transform(sequence, i -> array_join(
    # slice(...))) expression form runs outside codegen and cost 12.7 s
    # of q229's 12.9 s at sf1.0; the kernel does the same segmentation
    # in 0.9 s (PERFORMANCE.md lesson 3 pathology class)
    chunked = token_chunk_text(docs.select("doc_id", "text"), chunk_size=4)
    return line_dedup(
        chunked,
        text_col="chunked",
        line_sep="\n",
        out_sep=" ",
        min_docs=2,
    )


@query(
    "q230_incremental_sessions",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, COUNT(*) AS n_events,
      MIN(us) AS session_start_us, MAX(us) AS session_end_us
    FROM sess GROUP BY user_id, sid
    """,
)
def q230_incremental_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sessionization (``sessions.session_index_merge``, round
    9): the persisted session table covers history through Jan 21; the
    next day's events merge against it WITHOUT re-sessionizing history.
    Sessions ending more than one gap before the cutoff are closed and
    pass through unshuffled; the (provably at most one per entity) still-
    open session becomes an atomic interval and gap-merges with the
    delta's event points — exact integer-micros gaps-and-islands, the
    same break rule F.session_window applies (end-inclusive windows:
    exactly-gap events merge, only a strictly larger gap breaks).  The oracle is the
    full-recompute sessionization over ALL events, pinning
    merge(sessions(base), delta) ≡ sessions(base ∪ delta).  The daily-
    ingest shape of A15 at 100 TB: shuffle = |open| + |delta| rows, not
    history."""
    from streaming_feature_store_spark.operators.sessions import (
        session_index_merge,
        sessionize,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-22 00:00:00").cast("timestamp")
    base = sessionize(ev.filter(F.col("ts") < cut), "user_id")
    delta = ev.filter(F.col("ts") >= cut)
    return session_index_merge(
        delta, base, "2024-01-22 00:00:00", "user_id"
    )


@query(
    "q231_incremental_clusters",
    sql=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q231_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup clusters (``dedup.cluster_index_merge``, round 9):
    the q221 split again — base corpus (doc_id % 3 != 0) carries a
    standing (node, cluster_id) label table from its own pair graph; the
    delta's new near-dup pairs (``minhash_index_merge``) fold in WITHOUT
    re-running CC over history: endpoints contract to their current
    labels, exact CC runs on the delta-sized label graph only, and one
    remap join rewrites the index.  The oracle is the q67 recursive-CTE
    transitive closure over the FULL pair graph — pinning
    merge(clusters(base), new_pairs) ≡ clusters(base ∪ delta) down to
    identical min-id representatives."""
    from streaming_feature_store_spark.cacheutil import persist_tracked
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        cluster_index_merge,
        dedup_clusters,
        minhash_index_merge,
        minhash_index_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    idx = persist_tracked(build_minhash_index(base))
    labels = dedup_clusters(minhash_index_pairs(idx, threshold=0.5))
    # new_pairs feeds two consumers inside cluster_index_merge (contracted
    # edges + the new-node set); unpersisted, the band-join + exact-verify
    # lineage would execute twice
    new_pairs = persist_tracked(
        minhash_index_merge(delta, idx, threshold=0.5)[0]
    )
    return cluster_index_merge(new_pairs, labels).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@query(
    "q232_trending_parts",
    sql="""
    WITH ev AS (
      SELECT l_partkey AS item, CAST(o_orderdate AS DATE) AS day
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), idx AS (
      SELECT item, day, COUNT(*) AS n FROM ev
      WHERE day >= DATE '2001-08-01' - 180
      GROUP BY 1, 2
    ), scored AS (
      SELECT item,
        ROUND(CAST(SUM(CAST(
          n * exp(ln(0.5) * date_diff('day', day, DATE '2001-08-01') / 30.0)
          AS DECIMAL(28,12))) AS DOUBLE), 6) AS decayed_weight,
        CAST(SUM(n) AS BIGINT) AS n_total
      FROM idx GROUP BY 1
    )
    SELECT item, decayed_weight, n_total,
      CAST(ROW_NUMBER() OVER (ORDER BY decayed_weight DESC, item) AS INT)
        AS rank
    FROM scored
    QUALIFY rank <= 20
    """,
)
def q232_trending_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items over a persisted daily-count index
    (``behavior.daily_count_index`` + ``daily_count_index_merge`` +
    ``decayed_topk``, round 9): part order counts keyed by (part, day)
    accumulate incrementally — the last month's orders arrive as the
    delta and merge by pure count addition (exact); a 180-day retention
    eviction bounds the index; the top-20 report applies half-life-30d
    exponential decay at READ time over index rows only.  Decay is
    exp(ln(0.5)·age/h) — one libm exp both engines agree on — with
    decimal term accumulation and rounded-weight ranking, so the oracle
    reproduces the report bit-exactly from raw rows."""
    from streaming_feature_store_spark.operators.behavior import (
        daily_count_index,
        daily_count_index_merge,
        decayed_topk,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ev = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_partkey").alias("item"),
        F.to_date("o_orderdate").alias("day"),
    )
    cut = F.lit("2001-07-01").cast("date")
    base_idx = daily_count_index(ev.filter(F.col("day") < cut), "item", "day")
    delta_idx = daily_count_index(
        ev.filter(F.col("day") >= cut), "item", "day"
    )
    merged = daily_count_index_merge(
        base_idx, delta_idx, retain_days=180, ref_day="2001-08-01"
    )
    return decayed_topk(merged, "2001-08-01", k=20, half_life_days=30.0)


@query(
    "q233_psi_quantile_binned",
    sql=f"""
    WITH d AS (
      SELECT value AS v, ts >= {_DRIFT_CUT} AS grp FROM events
    ), tr AS (
      SELECT v FROM d WHERE NOT grp AND v IS NOT NULL
    ), cts AS (
      SELECT v, COUNT(*) AS cnt FROM tr GROUP BY v
    ), cum AS (
      SELECT v,
        SUM(cnt) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(cnt) OVER () AS tot
      FROM cts
    ), edges AS (
      SELECT i, MIN(v) AS edge
      FROM cum CROSS JOIN (
        SELECT unnest(generate_series(1, 9)) AS i) t
      WHERE cum >= (i * tot + 9) // 10
      GROUP BY i
    ), b AS (
      SELECT grp,
        (SELECT COUNT(*) FROM edges e WHERE e.edge <= d.v) AS bucket
      FROM d
    ), c AS (
      SELECT bucket,
        SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS ne,
        SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS na
      FROM b GROUP BY bucket
    ), t AS (SELECT SUM(ne) AS te, SUM(na) AS ta FROM c)
    SELECT ROUND(SUM(
        ((na / CAST(ta AS DOUBLE) + 1e-6) - (ne / CAST(te AS DOUBLE) + 1e-6))
        * ln((na / CAST(ta AS DOUBLE) + 1e-6) / (ne / CAST(te AS DOUBLE) + 1e-6))
      ), 6) AS psi
    FROM c CROSS JOIN t
    """,
)
def q233_psi_quantile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI over train-quantile-frozen buckets (``drift.quantile_edges`` +
    ``psi_quantile_binned``, round 9) — the reference's ACTUAL bucketing
    (training/drift_check.py:138-169 cuts by the expected population's
    deciles; q26 uses fixed edges): decile edges freeze on the pre-cut
    window with INTEGER-exact targets ceil(i·N/10) = (i·N+9) div 10 (a
    float q·N flips its ceil on 1-ulp noise), persist as the train/serve
    contract, and both windows bucket by the frozen ladder.  The oracle
    re-derives the edges, the bucketing and the PSI closed form in SQL."""
    from streaming_feature_store_spark.operators.drift import (
        psi_quantile_binned,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")
    )
    return psi_quantile_binned(ev, "value", "grp", n_bins=10)


@query(
    "q234_record_linkage",
    sql="""
    WITH feed AS (
      SELECT p_partkey + 100000 AS feed_id,
        CASE WHEN p_partkey % 3 = 0 THEN p_name
             WHEN p_partkey % 3 = 1
               THEN concat(substr(p_name, 1, 1), 'zz', substr(p_name, 4))
             ELSE concat(p_name, ' x') END AS f_name,
        p_size + (p_partkey % 3) - 1 AS f_size,
        p_brand AS f_brand
      FROM part
    ), cand AS (
      SELECT feed_id, p_partkey,
        ROUND(
          0.7 * (1.0 - levenshtein(f_name, p_name)
                 / CAST(GREATEST(length(f_name), length(p_name)) AS DOUBLE))
          + 0.3 * (1.0 - ABS(f_size - p_size) / 2.0), 6) AS score
      FROM feed JOIN part
        ON f_brand = p_brand AND ABS(f_size - p_size) <= 1
        AND substr(f_name, 1, 1) = substr(p_name, 1, 1)
        AND ABS(length(f_name) - length(p_name)) <= 2
    ), best AS (
      SELECT feed_id, p_partkey, score,
        ROW_NUMBER() OVER (
          PARTITION BY feed_id ORDER BY score DESC, p_partkey) AS rk
      FROM cand WHERE score >= 0.5
    )
    SELECT f.feed_id, b.p_partkey AS matched_id, b.score AS match_score
    FROM (SELECT DISTINCT feed_id FROM feed) f
    LEFT JOIN best b ON f.feed_id = b.feed_id AND b.rk = 1
    """,
)
def q234_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (``enrich.blocked_link``, round 9):
    a dirty catalog feed — every part re-arrives under a new id, a third
    byte-identical, a third with two characters mangled, a third with a
    trailing token and a shifted size — resolves against the part master.
    Blocks = brand x (+/-1)-banded size (the band becomes an EQUI-join by
    replicating each master row 3x — the lossless edit-distance blocker
    trick), score = 0.7·name-edit-similarity + 0.3·size-closeness,
    best-match argmax on the rounded score with id tiebreak, unmatched
    feed rows emitted with NULL.  The oracle re-derives the feed, the
    banded candidate set, the scoring and the argmax in SQL — levenshtein
    agrees across engines (the q206 precedent)."""
    from streaming_feature_store_spark.operators.enrich import blocked_link

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    feed = part.select(
        (F.col("p_partkey") + 100000).alias("feed_id"),
        F.when(F.col("p_partkey") % 3 == 0, F.col("p_name"))
        .when(
            F.col("p_partkey") % 3 == 1,
            F.concat(
                F.substring("p_name", 1, 1),
                F.lit("zz"),
                F.expr("substr(p_name, 4)"),
            ),
        )
        .otherwise(F.concat(F.col("p_name"), F.lit(" x")))
        .alias("f_name"),
        (F.col("p_size") + F.col("p_partkey") % 3 - 1).alias("p_size"),
        F.col("p_brand"),
    )
    # the probe's size column takes the band-join name; the master's
    # original size survives as m_p_size for the score term.  Third
    # block key: the name's first character.  Blocking progression
    # measured at sf1.0 (200k x 200k): brand x banded size alone = 96M
    # pairs / 180 s; + first-char key = 13.9M pairs / 35 s; an inverted
    # TOKEN index (the shingle-index pattern) was tried and is WORSE
    # here (59 s) — the name vocabulary is ~20 words, so token blocks
    # are huge and the 2-3x explode only adds rows (inverted-index
    # blocking needs a large key vocabulary; works for shingles, not
    # tiny word sets).  The residual 35 s is join-row production, the
    # honest floor for this block selectivity.
    feed = feed.withColumnRenamed("p_size", "p_size_band").withColumn(
        "b1", F.substring("f_name", 1, 1)
    )
    master = part.withColumnRenamed("p_size", "p_size_band").withColumn(
        "b1", F.substring("p_name", 1, 1)
    )
    name_sim = 1.0 - F.levenshtein("f_name", "m_p_name") / F.greatest(
        F.length("f_name"), F.length("m_p_name")
    ).cast("double")
    size_sim = 1.0 - F.abs(
        F.col("p_size_band") - F.col("m_p_size_band")
    ) / 2.0
    return blocked_link(
        feed,
        master,
        on=["p_brand", "b1"],
        probe_id="feed_id",
        master_id="p_partkey",
        score=0.7 * name_sim + 0.3 * size_sim,
        min_score=0.5,
        band_col="p_size_band",
        band=1,
        # cheap survivor test ahead of the levenshtein DP: length band
        # +/-2 (holds for every perturbation in this feed)
        prefilter=(
            F.abs(F.length("f_name") - F.length("m_p_name")) <= 2
        ),
    )


# ---------------------------------------------------------------------------
# Incremental corpus-statistics indexes for text scoring (round 10) — the
# last text family where recurring cost priced on the corpus: DF / unigram /
# bigram count tables are additive over disjoint doc sets (the
# histogram_index_merge property), so a daily ingest merges count tables and
# scores ONLY delta docs.  Reference twin: the quality/drift baselines it
# recomputes per check (training/drift_check.py:138-169).
# ---------------------------------------------------------------------------


@query(
    "q235_incremental_tfidf",
    sql="""
    WITH toks AS (
      SELECT doc_id, tok AS term
      FROM documents,
        UNNEST(string_split_regex(
          lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS u(tok)
      WHERE tok <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), nd AS (
      SELECT COUNT(*) AS n FROM documents
    ), scored AS (
      SELECT doc_id, term,
        ROUND(tf * LN(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tfidf, rank FROM (
      SELECT doc_id, term, tfidf,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= 3 AND doc_id % 5 = 0
    """,
)
def q235_incremental_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TF-IDF over a persisted corpus-statistics index
    (``text.corpus_stats_index`` + ``corpus_stats_index_merge`` +
    ``tfidf_top_terms_from_index``): the corpus splits into a base (80 %)
    and today's delta (doc_id % 5 == 0); each side builds its additive
    (kind, term, n) count index, the delta MERGES into the base index
    (union + sum — vocabulary-bounded rows, never documents), and only
    the delta's documents are tokenized for scoring.  The oracle is the
    FULL q88 recompute over all documents restricted to delta ids —
    pinning merge(index(base), index(delta)) == index(base UNION delta)
    AND delta-doc scores == full-recompute scores in one readout.  At
    100 TB the recurring cost is |delta| tokenize + an index-sized merge,
    not a corpus rescan."""
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index,
        corpus_stats_index_merge,
        tfidf_top_terms_from_index,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    # the merged index feeds two consumers in the scorer (df join + N
    # row); persisted exactly as a parquet-backed production index would
    # be materialized (released by the harness' clearCache)
    merged = persist_tracked(
        corpus_stats_index_merge(
            corpus_stats_index(base, bigrams=False),
            corpus_stats_index(delta, bigrams=False),
        )
    )
    return tfidf_top_terms_from_index(delta, merged, k=3)


@query(
    "q236_incremental_lm_quality",
    sql=f"""
    WITH dl AS ({_TOKS_SQL}
    ), tf AS (
      SELECT doc_id, w AS term, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(l) AS w FROM dl) GROUP BY 1, 2
    ), vc AS (
      SELECT term, SUM(c) AS cnt FROM tf GROUP BY term
    ), tot AS (
      SELECT SUM(cnt) AS t FROM vc
    ), v AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vc
    ), nll AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        ROUND(SUM(c * -LN(cnt / CAST(t AS DOUBLE))) / SUM(c), 6) AS mean_nll
      FROM tf JOIN vc USING (term) CROSS JOIN tot
      GROUP BY doc_id
    ), pairs AS (
      SELECT doc_id, l[j] AS a, l[j+1] AS b
      FROM dl, unnest(generate_series(1, len(l) - 1)) AS t(j)
      WHERE len(l) >= 2
    ), bc AS (
      SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2
    ), sc AS (
      SELECT doc_id,
        CAST(LN((c_ab + 0.5) / (ca.cnt + 0.5 * v)) AS DECIMAL(28,12)) AS lp
      FROM pairs JOIN bc USING (a, b)
      JOIN vc ca ON pairs.a = ca.term
      CROSS JOIN v
    ), lm AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
        ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
      FROM sc GROUP BY 1
    )
    SELECT doc_id, n_tokens, mean_nll, n_bigrams, avg_logprob
    FROM nll LEFT JOIN lm USING (doc_id)
    WHERE doc_id % 5 = 0
    """,
)
def q236_incremental_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet/KenLM-style quality gate priced on the delta: unigram
    NLL + add-0.5 bigram-LM fluency for TODAY'S documents under the
    MERGED corpus model (``unigram_nll_from_index`` +
    ``bigram_lm_from_index`` over one merged ``corpus_stats_index`` with
    bigram counts).  The unigram/bigram count tables merge additively;
    only delta docs tokenize at scoring time; |V| is a one-row count of
    the vocabulary-bounded index.  Oracle = full q101 + q211 recompute
    over the whole corpus restricted to delta ids (left join: a
    single-token doc has NLL but no bigram rows), so a count-table merge
    error OR a delta-scoring divergence breaks the hash."""
    from streaming_feature_store_spark.operators.text import (
        bigram_lm_from_index,
        corpus_stats_index,
        corpus_stats_index_merge,
        unigram_nll_from_index,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    merged = persist_tracked(
        corpus_stats_index_merge(
            corpus_stats_index(base, bigrams=True),
            corpus_stats_index(delta, bigrams=True),
        )
    )
    nll = unigram_nll_from_index(delta, merged)
    lm = bigram_lm_from_index(delta, merged)
    return nll.join(lm, "doc_id", "left").select(
        "doc_id", "n_tokens", "mean_nll", "n_bigrams", "avg_logprob"
    )


@query(
    "q237_bm25_from_index",
    sql=r"""
    WITH q(query_id, query_text) AS (VALUES
      ('q1', 'hash join strategy'), ('q2', 'window batch stream'),
      ('q3', 'customer order data'), ('q4', 'vector scan filter')),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS dfr FROM tf GROUP BY 1),
    qt AS (
      SELECT DISTINCT query_id, unnest(string_split_regex(
        lower(regexp_replace(query_text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM q
    ),
    qi AS (
      SELECT query_id, term,
        ln(1.0 + (n_docs - dfr + 0.5) / (dfr + 0.5)) AS idf, avgdl
      FROM qt JOIN dfreq USING (term) CROSS JOIN stats
      WHERE term <> ''
    ),
    sc AS (
      SELECT query_id, doc_id,
        ROUND(SUM(idf * (tf * 2.2)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
      FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, rank FROM (
      SELECT query_id, doc_id, score,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM sc)
    WHERE rank <= 5
    """,
)
def q237_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over a PERSISTED inverted index
    (``text.postings_index`` + ``postings_index_merge`` +
    ``bm25_from_index``): the corpus splits base/delta, each side builds
    (doc, term, tf) postings + per-doc lengths, the delta merges (pure
    append for disjoint docs), document frequency comes from the merged
    ``corpus_stats_index``, and the q152 queries run WITHOUT touching raw
    text — query terms prune the postings, idf joins vocabulary-bounded
    'df' rows, N/avgdl is one narrow aggregate of the per-doc length
    rows.  Oracle = q152's full tokenize-and-score recompute, pinning
    postings merge == full build AND index-only scoring == bm25_topk.
    The daily-ingest shape: new docs append ≤ |delta| postings rows;
    queries never re-tokenize the corpus."""
    from streaming_feature_store_spark.operators.text import (
        bm25_from_index,
        corpus_stats_index,
        corpus_stats_index_merge,
        postings_index,
        postings_index_merge,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    postings = persist_tracked(
        postings_index_merge(postings_index(base), postings_index(delta))
    )
    stats = persist_tracked(
        corpus_stats_index_merge(
            corpus_stats_index(base, bigrams=False),
            corpus_stats_index(delta, bigrams=False),
        )
    )
    qdf = spark.createDataFrame(
        [
            ("q1", "hash join strategy"),
            ("q2", "window batch stream"),
            ("q3", "customer order data"),
            ("q4", "vector scan filter"),
        ],
        "query_id string, query_text string",
    )
    return bm25_from_index(postings, stats, qdf, k=5)


@query(
    "q238_incremental_dsir",
    sql=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY 1, 2),
    sc AS (SELECT term, SUM(tf) AS s_c FROM tf GROUP BY 1),
    ttok AS (
      SELECT unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM documents WHERE lang = 'en'
    ),
    tc AS (SELECT term, COUNT(*) AS t_c FROM ttok
           WHERE term <> '' GROUP BY 1),
    vocab AS (
      SELECT COALESCE(sc.term, tc.term) AS term,
             COALESCE(s_c, 0) AS s_c, COALESCE(t_c, 0) AS t_c
      FROM sc FULL OUTER JOIN tc ON sc.term = tc.term
    ),
    tot AS (SELECT SUM(s_c) AS s_tot, SUM(t_c) AS t_tot,
                   COUNT(*) AS v FROM vocab),
    ratio AS (
      SELECT term,
        ln((t_c + 0.5) / (t_tot + 0.5 * v))
        - ln((s_c + 0.5) / (s_tot + 0.5 * v)) AS log_ratio
      FROM vocab CROSS JOIN tot
    )
    SELECT tf.doc_id,
      CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      ROUND(SUM(tf.tf * ratio.log_ratio), 6) AS log_weight
    FROM tf JOIN ratio USING (term)
    WHERE tf.doc_id % 5 = 0
    GROUP BY 1
    """,
)
def q238_incremental_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights priced on the delta
    (``curation.dsir_weights_from_index``): BOTH unigram distributions —
    the raw-corpus source and the English-target — live as merged
    ``corpus_stats_index`` frames (base index + delta index, union+sum),
    and only today's documents tokenize for scoring.  This closes the
    last scorer in the r9 verdict's text-statistics list (TF-IDF / BM25 /
    LM / DSIR).  Oracle = q153's full two-corpus recompute restricted to
    delta ids: a merge error in EITHER distribution or a delta-scoring
    divergence breaks the hash."""
    from streaming_feature_store_spark.operators.curation import (
        dsir_weights_from_index,
    )
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index,
        corpus_stats_index_merge,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    stats = persist_tracked(
        corpus_stats_index_merge(
            corpus_stats_index(base, bigrams=False),
            corpus_stats_index(delta, bigrams=False),
        )
    )
    en = F.col("lang") == "en"
    target_stats = persist_tracked(
        corpus_stats_index_merge(
            corpus_stats_index(base.filter(en), bigrams=False),
            corpus_stats_index(delta.filter(en), bigrams=False),
        )
    )
    return dsir_weights_from_index(delta, stats, target_stats)


@query(
    "q239_incremental_line_dedup",
    sql="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), ch AS (
      SELECT doc_id,
        list_transform(
          generate_series(0, CAST(ceil(len(l) / 4.0) AS INT) - 1),
          i -> array_to_string(l[(i*4+1):(i*4+4)], ' ')) AS chunks
      FROM tok
    ), lines AS (
      SELECT doc_id,
        unnest(list_transform(chunks, (x, i) -> {'pos': i, 'line': x}),
               recursive := true)
      FROM ch
    ), freq AS (
      SELECT line FROM lines
      GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
    ), dlines AS (
      SELECT * FROM lines WHERE doc_id % 5 = 0
    ), kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM dlines l ANTI JOIN freq f ON l.line = f.line
    ), tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM dlines GROUP BY 1
    ), re AS (
      SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
        CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY 1
    )
    SELECT t.doc_id, COALESCE(re.clean_text, '') AS clean_text, t.n_lines,
      COALESCE(re.n_kept, 0) AS n_kept,
      ROUND(COALESCE(re.n_kept, 0) / CAST(t.n_lines AS DOUBLE), 6)
        AS kept_frac
    FROM tot t LEFT JOIN re ON t.doc_id = re.doc_id
    """,
)
def q239_incremental_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet line-dedup cleaning pass priced on the delta
    (``text.line_freq_index`` + ``line_freq_index_merge`` +
    ``line_dedup_from_index``): line frequencies are DISTINCT-doc counts
    — additive over disjoint doc sets — so the persisted index absorbs
    the delta's counts in one union+sum, and only today's documents
    re-segment, anti-join the corpus-global boilerplate set, and
    reassemble.  Same 4-token-window segmentation as q229 (Arrow
    kernel); the oracle recomputes the FULL corpus frequency screen and
    cleans the delta docs against it, pinning merge(index(base),
    index(delta)) ≡ index(base∪delta) AND position-exact delta
    reconstruction."""
    from streaming_feature_store_spark.operators.text import (
        line_dedup_from_index,
        line_freq_index,
        line_freq_index_merge,
        token_chunk_text,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunked = token_chunk_text(docs, chunk_size=4)
    cbase = chunked.filter(F.col("doc_id") % 5 != 0)
    cdelta = persist_tracked(chunked.filter(F.col("doc_id") % 5 == 0))
    merged = line_freq_index_merge(
        line_freq_index(cbase, text_col="chunked"),
        line_freq_index(cdelta, text_col="chunked"),
    )
    return line_dedup_from_index(
        cdelta, merged, min_docs=2, text_col="chunked", out_sep=" "
    )


@query(
    "q240_incremental_winnow",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS w,
             generate_subscripts(string_split(text,' '),1) AS pos
      FROM documents
    ), grams AS (
      SELECT doc_id, pos,
        md5(w || ' ' || lead(w,1) OVER dw || ' ' || lead(w,2) OVER dw) AS g
      FROM toks WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(w,2) OVER dw IS NOT NULL
    ), wmin AS (
      SELECT doc_id, pos,
        MIN(g) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
      FROM grams
    ), fps AS (
      SELECT DISTINCT doc_id, sel FROM wmin WHERE pos <= maxpos - 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM fps a JOIN fps b ON a.sel = b.sel AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
      ROUND(n_shared / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE), 6)
        AS containment
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_shared / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.5
      AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
    """,
)
def q240_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring-containment screen
    (``text.build_winnow_index`` + ``winnow_index_merge``): the base
    corpus' winnowing fingerprints live as a persisted doc-keyed index;
    today's delta (doc_id % 5 == 0) fingerprints ONLY itself, joins the
    index on the selected-hash key, and emits exactly the containment
    pairs involving a delta doc — history's pairs are provably untouched
    (per-doc fingerprint sets don't change).  Oracle = q72's full MOSS
    recompute restricted to delta-involving pairs, pinning the
    delta-vs-corpus join, the delta-delta normalization, and the
    containment arithmetic."""
    from streaming_feature_store_spark.operators.text import (
        build_winnow_index,
        winnow_index_merge,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    idx = persist_tracked(build_winnow_index(base))
    new_pairs, _ = winnow_index_merge(delta, idx, threshold=0.5)
    return new_pairs


@query(
    "q241_incremental_boilerplate",
    sql=f"""
    WITH dl AS ({_TOKS_SQL}
    ), g AS (
      SELECT DISTINCT doc_id, array_to_string(l[j:j+2], ' ') AS gram
      FROM dl, unnest(generate_series(1, len(l) - 2)) AS t(j)
      WHERE len(l) >= 3
    ), c AS (
      SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents
    )
    SELECT gram, n_docs, ROUND(n_docs / nd, 6) AS doc_frac
    FROM c CROSS JOIN tot WHERE n_docs >= 5
    """,
)
def q241_incremental_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/RefinedWeb boilerplate-phrase screen priced on the delta
    (``text.ngram_doc_freq_index`` + merge + ``boilerplate_from_index``):
    distinct-doc 3-gram counts are additive, so the persisted index
    absorbs the delta in one union+sum and the threshold screen + doc
    fraction are closed forms over index rows — after day one, finding
    NEWLY-crossed boilerplate phrases never rescans the corpus.  Oracle
    = q212's full recompute, pinning merge(index(base), index(delta)) ≡
    index(base∪delta) through the report arithmetic."""
    from streaming_feature_store_spark.operators.text import (
        boilerplate_from_index,
        ngram_doc_freq_index,
        ngram_doc_freq_index_merge,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    merged = ngram_doc_freq_index_merge(
        ngram_doc_freq_index(base, n=3), ngram_doc_freq_index(delta, n=3)
    )
    return boilerplate_from_index(merged, min_docs=5)


@query(
    "q242_bm25_persisted_layout",
    sql=r"""
    WITH q(query_id, query_text) AS (VALUES
      ('q1', 'hash join strategy'), ('q2', 'window batch stream'),
      ('q3', 'customer order data'), ('q4', 'vector scan filter')),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS dfr FROM tf GROUP BY 1),
    qt AS (
      SELECT DISTINCT query_id, unnest(string_split_regex(
        lower(regexp_replace(query_text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM q
    ),
    qi AS (
      SELECT query_id, term,
        ln(1.0 + (n_docs - dfr + 0.5) / (dfr + 0.5)) AS idf, avgdl
      FROM qt JOIN dfreq USING (term) CROSS JOIN stats
      WHERE term <> ''
    ),
    sc AS (
      SELECT query_id, doc_id,
        ROUND(SUM(idf * (tf * 2.2)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
      FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, rank FROM (
      SELECT query_id, doc_id, score,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM sc)
    WHERE rank <= 5
    """,
)
def q242_bm25_persisted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the EXECUTABLE bucketed postings layout
    (VERDICT r10 next-item #1 made runnable): the corpus' inverted index
    is written once via ``text.save_postings_index`` — term rows and
    per-doc lengths as external tables bucketed by ``doc_id`` (plus a
    term-bucketed copy for non-broadcastable query batches) — reloaded
    with ``load_postings_index``, and the q237 query batch scores
    against the loaded tables (``bm25_from_index(..., doc_lengths=...)``)
    so the query-time dl join and the (query, doc) score aggregation are
    CO-LOCATED: zero shuffle Exchange on the postings side, the one
    |docs|-proportional shuffle the tall-frame form pays (test-pinned in
    tests/test_r11_ops.py).  Oracle = q237's full recompute, pinning
    save → load → score ≡ bm25_topk.  Tables/paths are uuid-unique per
    invocation and dropped before returning (the q224 lifecycle
    discipline); the result is checkpointed first."""
    import os
    import shutil
    import tempfile
    import uuid

    from streaming_feature_store_spark.operators.text import (
        bm25_from_index,
        corpus_stats_index,
        drop_postings_index,
        load_postings_index,
        postings_index,
        save_postings_index,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    name = f"sfs_q242_{uuid.uuid4().hex[:12]}"
    path = os.path.join(tempfile.gettempdir(), f"{name}_data")
    try:
        # r12 opt: register the stats build FIRST — corpus_stats_index
        # persists the canonical (doc, term, c) tf, and the postings
        # writes below then reuse that cached tokenize via CacheManager
        # subplan substitution (one corpus tokenize for the whole
        # lifecycle instead of three: by_doc write, dl write, stats)
        stats = persist_tracked(corpus_stats_index(docs, bigrams=False))
        # broadcast-query retrieval only reads the by_doc copy; skipping
        # the by_term twin halves the one-time layout write
        save_postings_index(
            postings_index(docs), name, path, layouts=("by_doc",)
        )
        tf, dl = load_postings_index(spark, name)
        qdf = spark.createDataFrame(
            [
                ("q1", "hash join strategy"),
                ("q2", "window batch stream"),
                ("q3", "customer order data"),
                ("q4", "vector scan filter"),
            ],
            "query_id string, query_text string",
        )
        return local_checkpoint_tracked(
            bm25_from_index(tf, stats, qdf, k=5, doc_lengths=dl)
        )
    finally:
        drop_postings_index(spark, name)
        shutil.rmtree(path, ignore_errors=True)


@query(
    "q243_incremental_decontamination",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), g AS (
      SELECT doc_id, unnest({_GRAMS8_SQL}) AS s FROM tok
    ), tr AS (
      SELECT DISTINCT s FROM g WHERE doc_id % 5 != 0
    ), ev AS (
      SELECT doc_id, s FROM g WHERE doc_id % 5 = 0
    ), sizes AS (
      SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1
    ), hits AS (
      SELECT ev.doc_id, count(*) AS n_shared FROM ev JOIN tr USING (s)
      GROUP BY 1
    )
    SELECT d.doc_id, d.source,
      CAST(COALESCE(sizes.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(COALESCE(hits.n_shared, 0) AS BIGINT) AS n_shared_grams,
      CASE WHEN COALESCE(sizes.n_grams, 0) > 0
           THEN ROUND(COALESCE(hits.n_shared, 0)
                      / CAST(sizes.n_grams AS DOUBLE), 6)
           ELSE 0.0 END AS containment,
      (CASE WHEN COALESCE(sizes.n_grams, 0) > 0
            THEN ROUND(COALESCE(hits.n_shared, 0)
                       / CAST(sizes.n_grams AS DOUBLE), 6)
            ELSE 0.0 END) > 0.0 AS is_contaminated
    FROM documents d
    LEFT JOIN sizes ON d.doc_id = sizes.doc_id
    LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % 5 = 0
    """,
)
def q243_incremental_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval-set decontamination priced on the TRAINING DELTA (VERDICT
    r10 next-item #6): the eval suite's n-gram index is built once
    (``curation.decontam_index`` — the static side), the training corpus
    arrives in two installments (base: doc_id % 5 in (1, 2); today's
    delta: % 5 in (3, 4)), and each installment folds into the
    persisted HIT set via ``decontam_hits_merge`` — monotone
    union+distinct state bounded by the eval set forever, with only the
    delta shingling.  ``decontaminate_from_index`` then reads the report
    as closed forms over the two eval-bounded relations.  Oracle = q62's
    one-shot ``decontaminate(all train, eval)`` recompute: a missed or
    double-counted hit in either installment breaks the hash."""
    from streaming_feature_store_spark.operators.curation import (
        decontam_hits_merge,
        decontam_index,
        decontaminate_from_index,
    )
    from streaming_feature_store_spark.cacheutil import persist_tracked

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter((F.col("doc_id") % 5).isin(1, 2))
    delta = docs.filter((F.col("doc_id") % 5).isin(3, 4))
    eval_index = persist_tracked(decontam_index(ev, n=8))
    hits = decontam_hits_merge(None, base, eval_index, n=8)
    hits = decontam_hits_merge(hits, delta, eval_index, n=8)
    return decontaminate_from_index(ev, eval_index, hits).select(
        "doc_id",
        "source",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
        "containment",
        "is_contaminated",
    )


@query(
    "q244_daily_ingest_lifecycle",
    sql=f"""
    WITH delta AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text FROM documents
      WHERE doc_id % 3 != 0 AND doc_id % 7 = 1
    ), bfp AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 != 0 GROUP BY 1
    ), ex AS (
      SELECT d.doc_id, (bfp.fp IS NOT NULL) AS is_exact_dup
      FROM delta d LEFT JOIN bfp ON md5(d.text) = bfp.fp
    ), mh_in AS (
      SELECT doc_id, text FROM delta
      WHERE doc_id IN (SELECT doc_id FROM ex WHERE NOT is_exact_dup)
    ), alltok AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
        UNION ALL SELECT doc_id, text FROM mh_in)
    ), shx AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM alltok
    ), sh AS (
      SELECT doc_id, unnest(sh) AS s FROM shx
    ), sizes AS (
      SELECT doc_id, CAST(len(sh) AS INTEGER) AS nsh FROM shx
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b,
        ROUND(n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE), 6)
          AS jaccard
      FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE n_common / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5
        AND (doc_a IN (SELECT doc_id FROM mh_in)
             OR doc_b IN (SELECT doc_id FROM mh_in))
    ), sided AS (
      SELECT doc_a AS doc_id, doc_b AS match_id, jaccard FROM pairs
        WHERE doc_a IN (SELECT doc_id FROM mh_in)
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS match_id, jaccard FROM pairs
        WHERE doc_b IN (SELECT doc_id FROM mh_in)
    ), best AS (
      SELECT doc_id, match_id AS best_match_id, jaccard AS best_jaccard,
        ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY jaccard DESC, match_id ASC) AS rn
      FROM sided
    ), scr AS (
      SELECT e.doc_id, e.is_exact_dup,
        (NOT e.is_exact_dup AND b2.best_match_id IS NOT NULL) AS is_near_dup,
        CASE WHEN NOT e.is_exact_dup THEN b2.best_match_id END
          AS best_match_id,
        CASE WHEN NOT e.is_exact_dup THEN b2.best_jaccard END
          AS best_jaccard,
        CASE WHEN NOT e.is_exact_dup AND b2.best_match_id IS NOT NULL
          THEN (b2.best_match_id % 3 != 0 AND b2.best_match_id < 200000)
        END AS match_in_index
      FROM ex e
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b2
          ON e.doc_id = b2.doc_id
    )
    SELECT doc_id, is_exact_dup, is_near_dup, best_match_id, best_jaccard,
      match_in_index,
      (NOT is_exact_dup AND (best_match_id IS NULL
        OR (NOT match_in_index AND best_match_id > doc_id))) AS kept
    FROM scr
    """,
)
def q244_daily_ingest_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED daily-ingest pipeline under one oracle (VERDICT r10
    next-item #5, ``curation.daily_ingest``): day 0 seeds the
    fingerprint/minhash/stats/postings state from the base corpus
    (doc_id % 3 != 0); day 1's delta mixes natural near-dups (% 3 == 0),
    byte-identical RE-CRAWLS of base docs under new ids (+200000,
    % 7 == 1 slice — the exact tier must kill these without shingling),
    and novel docs.  The returned screen report carries the full
    decision ladder per delta doc — is_exact_dup, is_near_dup,
    best_match_id/jaccard (exact argmax, lowest-id ties),
    match_in_index, and the final ``kept`` verdict under the
    keep-lowest-in-batch / drop-if-indexed policy, with the exact tier
    excluding its kills from the near-dup tier (order matters: a recrawl
    must never consume shingle work or end up a near-dup's best match).
    Oracle recomputes both tiers from scratch (md5 against the base
    fingerprint set; exact all-pairs jaccard over base + surviving
    delta).  State lives under a uuid temp root, result checkpointed,
    root deleted (the q224 lifecycle discipline)."""
    import os
    import shutil
    import tempfile
    import uuid

    from streaming_feature_store_spark.operators.curation import daily_ingest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        docs.filter(
            (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 1)
        ).select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    root = os.path.join(
        tempfile.gettempdir(), f"sfs_q244_{uuid.uuid4().hex}"
    )
    try:
        # seed from the base corpus WITHOUT the near-dup pair machinery
        # (screen_near_dups=False): a curated base only needs its
        # signatures indexed; day 1 pays the real screen
        daily_ingest(base, root, bigrams=False, screen_near_dups=False)
        daily_ingest(delta, root, bigrams=False)
        # day 1's report: the newest committed reports/v= dir
        report = commit.read_newest(f"{root}/reports", spark.read.parquet)
        return local_checkpoint_tracked(
            report.select(
                "doc_id",
                "is_exact_dup",
                "is_near_dup",
                "best_match_id",
                "best_jaccard",
                "match_in_index",
                "kept",
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "q245_daily_erase_lifecycle",
    sql="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0
    ), toks AS (
      SELECT doc_id, tok AS term
      FROM corpus,
        UNNEST(string_split_regex(
          lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS u(tok)
      WHERE tok <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
    )
    SELECT 'docs' AS kind, CAST(NULL AS VARCHAR) AS term,
           CAST(COUNT(*) AS BIGINT) AS n FROM corpus
    UNION ALL
    SELECT 'df' AS kind, term, CAST(COUNT(*) AS BIGINT) AS n
    FROM tf GROUP BY term
    UNION ALL
    SELECT 'uni' AS kind, term, CAST(SUM(c) AS BIGINT) AS n
    FROM tf GROUP BY term
    """,
)
def q245_daily_erase_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed DSAR day under one oracle (VERDICT r11 next-item #5,
    ``curation.daily_erase``): the whole documents table seeds a
    daily_ingest state, then every ``doc_id % 13 == 0`` document is
    erased in ONE call — minhash/postings anti-joined, the stats index
    count-SUBTRACTED (``corpus_stats_index_erase``), the fingerprint
    ledger's affected groups recomputed over the retained corpus — with
    the erased state committed at the next day version before the
    pre-erase dirs (which still hold the erased rows) are physically
    removed.  Returned readout: the post-erase STATS index, the
    subtlest of the four (subtraction, not an anti-join); the oracle
    recomputes (docs/df/uni) counts from scratch over the surviving
    documents — erase ≡ rebuild-over-survivors, the governance
    contract.  State under a uuid temp root, vocabulary-bounded result
    checkpointed, root deleted (the q224 lifecycle discipline)."""
    import os
    import shutil
    import tempfile
    import uuid

    from streaming_feature_store_spark.operators.curation import (
        daily_erase,
        daily_ingest,
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = os.path.join(
        tempfile.gettempdir(), f"sfs_q245_{uuid.uuid4().hex}"
    )
    try:
        daily_ingest(docs, root, bigrams=False, screen_near_dups=False)
        erased = docs.filter(F.col("doc_id") % 13 == 0)
        retained = docs.filter(F.col("doc_id") % 13 != 0)
        daily_erase(erased, root, corpus=retained)
        stats = commit.read_newest(f"{root}/stats", spark.read.parquet)
        return local_checkpoint_tracked(stats.select("kind", "term", "n"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "q246_compacted_ingest_bm25",
    sql=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 500000 AS doc_id, text || ' zuniqz' AS text
      FROM documents
    ),
    q(query_id, query_text) AS (VALUES
      ('q1', 'hash join strategy'), ('q2', 'window batch stream'),
      ('q3', 'customer order data'), ('q4', 'vector scan filter')),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM corpus
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS dfr FROM tf GROUP BY 1),
    qt AS (
      SELECT DISTINCT query_id, unnest(string_split_regex(
        lower(regexp_replace(query_text, '[^A-Za-z ]', ' ', 'g')), ' +')) AS term
      FROM q
    ),
    qi AS (
      SELECT query_id, term,
        ln(1.0 + (n_docs - dfr + 0.5) / (dfr + 0.5)) AS idf, avgdl
      FROM qt JOIN dfreq USING (term) CROSS JOIN stats
      WHERE term <> ''
    ),
    sc AS (
      SELECT query_id, doc_id,
        ROUND(SUM(idf * (tf * 2.2)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
      FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, rank FROM (
      SELECT query_id, doc_id, score,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM sc)
    WHERE rank <= 5
    """,
)
def q246_compacted_ingest_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two ingest days through the r12 DELTA-LOG state, compacted, then
    BM25 answered straight off the compacted log — pinning the full
    write path (per-day d=<n> appends), ``compact_ingest_state`` (the
    logs folded into one snapshot v=<k>, stats snapshots pruned), and the
    from-log read (``read_index_log``) against a from-scratch oracle.
    Day 1 seeds from the documents table; day 2 ingests a suffixed copy
    (doc_id+500000, text || ' zuniqz') in seeding mode too — the day-2
    docs are deliberate near-copies of day 1, so running the near-dup
    gate would empty the delta; what this query pins is the LOG
    machinery, and the screen ladder has its own oracle (q244).  The
    oracle recomputes BM25 over the union corpus from scratch: append ∘
    compact ∘ read ≡ one-shot postings + stats build.  State under a
    uuid temp root, result checkpointed, root deleted."""
    import os
    import shutil
    import tempfile
    import uuid

    from streaming_feature_store_spark.operators.curation import (
        compact_ingest_state,
        daily_ingest,
    )
    from streaming_feature_store_spark.operators.text import (
        bm25_from_index,
    )
    from streaming_feature_store_spark.streaming.dedup import read_index_log

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    day2 = docs.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zuniqz")).alias("text"),
    )
    root = os.path.join(
        tempfile.gettempdir(), f"sfs_q246_{uuid.uuid4().hex}"
    )
    try:
        daily_ingest(docs, root, bigrams=False, screen_near_dups=False)
        daily_ingest(day2, root, bigrams=False, screen_near_dups=False)
        compact_ingest_state(spark, root)
        postings = read_index_log(spark, f"{root}/postings")
        stats = commit.read_newest(f"{root}/stats", spark.read.parquet)
        qdf = spark.createDataFrame(
            [
                ("q1", "hash join strategy"),
                ("q2", "window batch stream"),
                ("q3", "customer order data"),
                ("q4", "vector scan filter"),
            ],
            "query_id string, query_text string",
        )
        return local_checkpoint_tracked(
            bm25_from_index(postings, stats, qdf, k=5)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
