"""Behavioral / lifecycle analytics — cohort retention and RFM scoring.

Beyond-reference analytics breadth (the reference's personalization track
stops at per-session features, `streaming/core/processors/clickstream.py`):
these are the two classic user-lifecycle rollups a feature-store consumer
builds next — a cohort retention matrix over the event log, and
Recency/Frequency/Monetary quintile scores over the order history.

Scale notes:

- ``cohort_retention`` shuffles the event log twice on ``user_id`` (first
  activity, then distinct user-months) and once on the tiny
  (cohort, offset) key; no window touches the raw events.
- ``rfm_scores`` needs three GLOBAL quantile assignments over the
  per-customer aggregate.  A plain ``NTILE(n) OVER (ORDER BY ...)`` is a
  single-partition window — fine for a 1 500-row test frame, fatal for the
  10^9-customer frame a 100 TB deployment aggregates to.  So the ntile is
  computed DISTRIBUTED: range-partition on the order key, rank locally,
  lift local ranks with a #partitions-bounded exclusive-offset table (the
  zipWithIndex construction shared with ``curation.negative_sample``), and
  apply the exact SQL NTILE bucket formula to the global row number.  The
  result is bit-identical to ``NTILE`` (the q160 DuckDB oracle), with no
  single-partition stage anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import broadcast

from streaming_feature_store_spark.functions.exprs import dsum


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "_rn",
) -> tuple[DataFrame, int]:
    """1-based global ``ROW_NUMBER() OVER (ORDER BY order_cols)`` without a
    single-partition sort.  Returns ``(frame, total_rows)`` — the total is
    a free byproduct of the offset collect, so callers that need N (the
    ntile below) don't pay a second count job.

    Range-partition on the order key (parallel sort), rank locally per
    partition, then lift to the global rank with exclusive per-partition
    offsets — a #partitions-bounded driver collect, the same bounded-collect
    class as ``negative_sample``'s item index.  RangePartitioner assigns
    ascending key ranges to ascending partition ids, so
    ``offset + local_rank == global ROW_NUMBER`` exactly.

    The ranked frame is a tracked eager local checkpoint
    (``cacheutil.local_checkpoint_tracked``): the rank depends on
    ``spark_partition_id()`` and the sampled partitioner boundaries being
    identical across the counts collect and the returned frame's
    consumers — a persist only guarantees that until eviction.
    ``cacheutil.release_checkpoints()`` invalidates the returned frame;
    consume it first.
    """
    from streaming_feature_store_spark.cacheutil import (
        local_checkpoint_tracked,
    )

    ranked = local_checkpoint_tracked(
        df.repartitionByRange(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrow",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(*order_cols)
            ),
        )
    )
    counts = sorted(
        ranked.groupBy("_pid").agg(F.count("*").alias("_c")).collect(),
        key=lambda r: r["_pid"],
    )
    acc, offset_rows = 0, []
    for r in counts:
        offset_rows.append((r["_pid"], acc))
        acc += r["_c"]
    offs = df.sparkSession.createDataFrame(offset_rows, "_pid int, _off long")
    numbered = (
        ranked.join(broadcast(offs), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_lrow"))
        .drop("_pid", "_lrow", "_off")
    )
    return numbered, acc


def distributed_ntile(
    df: DataFrame,
    order_cols: list[Column],
    n: int,
    out_col: str,
) -> DataFrame:
    """Exact SQL ``NTILE(n) OVER (ORDER BY order_cols)`` with no
    single-partition window.

    Applies the standard NTILE bucket formula to the distributed global row
    number: with ``N`` rows, ``q = N div n`` and ``r = N mod n``, the first
    ``r`` buckets hold ``q+1`` rows.  ``order_cols`` must be a total order
    (carry a unique tiebreak) or the assignment is partition-dependent.
    """
    rn, total = global_row_number(df, order_cols, "_ntile_rn")
    q, r = divmod(total, n)
    head = r * (q + 1)
    rnc = F.col("_ntile_rn")
    if q == 0:
        tile = F.ceil(rnc / F.lit(q + 1))
    else:
        tile = F.when(rnc <= head, F.ceil(rnc / F.lit(q + 1))).otherwise(
            F.lit(r) + F.ceil((rnc - F.lit(head)) / F.lit(q))
        )
    return rn.withColumn(out_col, tile.cast("int")).drop("_ntile_rn")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "month",
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity period,
    counted in every later period they were active.

    Periods are exact integer indices — ``year*12 + month`` for monthly
    grain, ``epoch_micros div one-week-of-micros`` for weekly — so both
    engines agree without interval arithmetic; the rate divides two exact
    counts and is rounded once at the presentation edge.

    Output: (cohort_period, period_offset, active_users, cohort_size,
    retention_rate); ``cohort_period`` renders 'YYYY-MM' for months and
    'W<epoch-week>' for weeks.
    """
    if grain == "week":
        # integer `div`, not `/`: double division then truncation can flip
        # at exact week boundaries
        pidx = F.expr(f"unix_micros({ts_col}) div 604800000000")
    elif grain == "month":
        pidx = (F.year(ts_col) * 12 + F.month(ts_col)).cast("long")
    else:
        raise ValueError(f"unsupported grain: {grain!r}")
    user_periods = (
        events.select(F.col(user_col).alias("_u"), pidx.alias("_pidx"))
        .distinct()
    )
    first = user_periods.groupBy("_u").agg(F.min("_pidx").alias("_cohort"))
    cells = (
        user_periods.join(first, "_u")
        .groupBy(
            F.col("_cohort"),
            (F.col("_pidx") - F.col("_cohort")).alias("period_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )
    if grain == "week":
        label = F.concat(F.lit("W"), F.col("_cohort").cast("string"))
    else:
        label = F.concat_ws(
            "-",
            F.floor((F.col("_cohort") - 1) / 12).cast("string"),
            F.lpad(
                (((F.col("_cohort") - 1) % 12) + 1).cast("string"), 2, "0"
            ),
        )
    wc = Window.partitionBy("_cohort")
    return (
        cells.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("period_offset") == 0, F.col("active_users"))
            ).over(wc),
        )
        .select(
            label.alias("cohort_period"),
            F.col("period_offset").cast("int").alias("period_offset"),
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users") / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention_rate"),
        )
    )


def rfm_scores(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    anchor: str = "1998-12-31 00:00:00",
    n_tiles: int = 5,
) -> DataFrame:
    """Recency/Frequency/Monetary quintile scores per customer.

    Aggregates once per customer (recency in exact integer days to the
    ``anchor``; frequency as order count; monetary as decimal-exact spend),
    then assigns each dimension's score with ``distributed_ntile`` — score
    ``n_tiles`` is the best bucket (most recent / most frequent / highest
    spend), via DESC-recency and ASC-frequency/monetary orderings with the
    customer key as tiebreak.

    Output: (cust, recency_days, frequency, monetary, r_score, f_score,
    m_score, rfm_segment).
    """
    anchor_ts = F.lit(anchor).cast("timestamp")
    per_cust = orders.groupBy(F.col(cust_col).alias("cust")).agg(
        F.datediff(anchor_ts, F.max(ts_col)).cast("long").alias(
            "recency_days"
        ),
        F.count("*").alias("frequency"),
        dsum(amount_col).alias("monetary"),
    )
    scored = distributed_ntile(
        per_cust,
        [F.col("recency_days").desc(), F.col("cust")],
        n_tiles,
        "r_score",
    )
    scored = distributed_ntile(
        scored,
        [F.col("frequency").asc(), F.col("cust")],
        n_tiles,
        "f_score",
    )
    scored = distributed_ntile(
        scored,
        [F.col("monetary").asc(), F.col("cust")],
        n_tiles,
        "m_score",
    )
    return scored.select(
        "cust",
        "recency_days",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("rfm_segment"),
    )


def distributed_percent_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """ANSI ``PERCENT_RANK() OVER (PARTITION BY group ORDER BY value)``
    with no single-partition-per-group window.

    The idiomatic Spark window puts each group in ONE task — fatal when a
    group holds 10¹⁰ rows of a 100 TB fact.  Here the rank decomposes
    into distributed pieces: one global row numbering over (group, value)
    (range-partitioned — ties may straddle partitions; their arbitrary
    internal order cancels in the next step), the per-(group, value)
    MIN of that numbering (tie-bounded window = RANK), and a
    cardinality-bounded per-group (first-row, count) table joined back
    via broadcast.  ``rank_in_group = tie_min − group_min + 1`` and
    ``pct = (rank−1)/(n−1)`` — bit-identical to the ANSI window (the
    q169 oracle), single-row groups pinned to 0.0 per the standard.
    """
    rn_df, _ = global_row_number(
        df, [F.col(group_col), F.col(value_col)], "_rn"
    )
    wv = Window.partitionBy(group_col, value_col)
    with_vmin = rn_df.withColumn("_vmin", F.min("_rn").over(wv))
    gstats = rn_df.groupBy(group_col).agg(
        F.min("_rn").alias("_gmin"), F.count("*").alias("_n")
    )
    rank = F.col("_vmin") - F.col("_gmin") + 1
    return (
        with_vmin.join(broadcast(gstats), group_col)
        .withColumn(
            "pct_rank",
            F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
                (rank - 1).cast("double") / (F.col("_n") - 1)
            ),
        )
        .drop("_rn", "_vmin", "_gmin", "_n")
    )


def kaplan_meier_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    horizon_days: int = 30,
) -> DataFrame:
    """Kaplan-Meier survival curve over user tenure — retention with
    CORRECT right-censoring, which the naive "% still active after t
    days" gets wrong: a user whose observation window simply ended is not
    churn, and counting them as such biases every retention number down.

    Tenure is exact integer days from a user's first to last active day;
    a user churns at tenure t if their last activity predates the study
    end (the corpus's max day), otherwise they are censored.  The KM
    estimator S(t) = Π_{i≤t} (1 − d_i/n_i) multiplies per-day hazard
    complements; the prefix product is evaluated as a pinned-order left
    fold over the day-ordered factor array (the ``ewma_latest``
    convention — DuckDB ``list_reduce`` seeds with the first element), so
    both engines run the identical IEEE sequence.

    Plan/scale shape: one shuffle per-user (first/last day), one tiny
    aggregate to per-tenure counts, then ALL remaining work happens on a
    ``horizon_days``-row frame (calendar-bounded, the documented CUSUM
    precedent) — the reverse-cumulative at-risk window and the fold never
    touch user-level data.

    Output: (tenure_day, n_at_risk, churned, survival).
    """
    day = F.expr(f"unix_micros({ts_col}) div 86400000000")
    spans = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    study_end = spans.agg(F.max("_last").alias("_end"))
    per_user = spans.crossJoin(broadcast(study_end)).select(
        (F.col("_last") - F.col("_first")).alias("_tenure"),
        (F.col("_last") < F.col("_end")).cast("long").alias("_churn"),
    )
    tcounts = per_user.groupBy("_tenure").agg(
        F.sum("_churn").alias("_d"), F.count("*").alias("_c")
    )
    # dense 0..horizon-1 grid so missing tenures carry factor 1.0
    grid = (
        events.sparkSession.range(horizon_days)
        .select(F.col("id").alias("_tenure"))
        .join(tcounts, "_tenure", "left")
        .na.fill({"_d": 0, "_c": 0})
    )
    # n_t = users with tenure >= t: reverse cumulative count over the
    # horizon_days-row frame (bounded single partition, documented above)
    wrev = (
        Window.orderBy(F.desc("_tenure"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hz = grid.withColumn("_n", F.sum("_c").over(wrev)).select(
        "_tenure",
        "_n",
        "_d",
        F.when(F.col("_n") > 0, 1.0 - F.col("_d") / F.col("_n"))
        .otherwise(F.lit(1.0))
        .alias("_factor"),
    )
    factors = hz.agg(
        F.array_sort(
            F.collect_list(F.struct("_tenure", "_factor"))
        ).alias("_fs")
    )
    arr = F.transform(F.col("_fs"), lambda s: s["_factor"])
    return (
        hz.crossJoin(broadcast(factors))
        .withColumn("_arr", arr)
        .withColumn(
            "survival",
            F.round(
                F.aggregate(
                    F.slice(F.col("_arr"), 2, F.col("_tenure").cast("int")),
                    F.element_at(F.col("_arr"), 1),
                    lambda acc, x: acc * x,
                ),
                6,
            ),
        )
        .select(
            F.col("_tenure").cast("int").alias("tenure_day"),
            F.col("_n").alias("n_at_risk"),
            F.col("_d").alias("churned"),
            "survival",
        )
    )


def distributed_prefix_agg(
    df: DataFrame,
    group_col: str,
    order_col: str,
    val_col: str,
    kind: str = "sum",
    inclusive: bool = True,
    out_col: str = "_prefix",
) -> DataFrame:
    """Per-group running SUM/MAX over ``order_col`` with no
    single-partition-per-group window — the prefix-scan primitive behind
    ``profile.weighted_quantile`` (running weight mass) and
    ``profile.pareto_frontier`` (running best-so-far).

    The idiomatic ``agg OVER (PARTITION BY group ORDER BY order)`` window
    puts each group in ONE task; at 100 TB a hot group is a straggler or
    an OOM.  Here the scan decomposes exactly like ``global_row_number``:

    1. range-partition on ``(group, order)`` (parallel sort) and pin the
       layout with a tracked ``localCheckpoint`` (partition ids must agree
       between the offsets job and the consumers);
    2. run the window LOCALLY per ``(partition, group)`` — each task sorts
       only its own slice;
    3. lift to the global prefix with per-``(partition, group)`` exclusive
       offsets.  RangePartitioner gives every group a contiguous run of
       partition ids, so the offsets frame holds at most
       ``#partitions + #groups`` rows — itself scanned with a window over
       the tiny ``(group → partition)`` key and broadcast back.

    ``df`` must already be unique on ``(group_col, order_col)`` (pre-agg
    ties first): a non-total order would make the local/global split
    partition-dependent.  ``kind="sum"`` expects an exact type (decimal /
    integer) so the regrouped additions are order-insensitive;
    ``inclusive=False`` yields the strict-predecessor scan (null when a
    row has no predecessor — ``F.greatest`` / ``F.coalesce`` semantics
    keep that exact for both kinds).
    """
    if kind not in ("sum", "max"):
        raise ValueError(f"kind must be sum|max, got {kind}")
    from streaming_feature_store_spark.cacheutil import (
        local_checkpoint_tracked,
    )

    fn = F.sum if kind == "sum" else F.max
    base = local_checkpoint_tracked(
        df.repartitionByRange(F.col(group_col), F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    wloc = (
        Window.partitionBy("_pid", group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = base.withColumn("_loc", fn(val_col).over(wloc))
    # exclusive cross-partition offsets: ≤ #partitions + #groups rows
    ptots = base.groupBy("_pid", group_col).agg(fn(val_col).alias("_pt"))
    woff = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = ptots.withColumn("_off", fn("_pt").over(woff)).drop("_pt")
    joined = local.join(broadcast(offs), ["_pid", group_col])
    if kind == "max":
        # greatest() skips nulls: null only when BOTH sides are absent
        # (first row of the group under inclusive=False) — exactly the
        # "no predecessor" contract.
        prefix = F.greatest(F.col("_loc"), F.col("_off"))
    else:
        zero = F.lit(0).cast(dict(joined.dtypes)["_loc"])
        prefix = F.when(
            F.col("_loc").isNull() & F.col("_off").isNull(), F.lit(None)
        ).otherwise(
            F.coalesce(F.col("_loc"), zero) + F.coalesce(F.col("_off"), zero)
        )
    return joined.withColumn(out_col, prefix).drop("_pid", "_loc", "_off")


def event_transitions(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: P(next event type | current event type).

    The classic clickstream/journey model one step past the reference's
    per-session funnels (`streaming/core/processors/clickstream.py` stops
    at counts) — the transition matrix drives next-action prediction,
    absorbing-state funnel analysis, and anomalous-sequence scoring.

    Plan shape: one keyed window (LAG over the per-entity sort — the same
    shuffle class as every A7 feature), one groupBy on the
    ``|types|²``-bounded transition key, and a row-probability window over
    that tiny aggregate.  Nothing global touches raw events twice.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.withColumn("_prev", F.lag(type_col).over(w))
        .filter(F.col("_prev").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("_prev").alias("from_type"), F.col(type_col).alias("to_type")
    ).agg(F.count("*").alias("n_transitions"))
    wrow = Window.partitionBy("from_type")
    return counts.withColumn(
        "p_transition",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(wrow),
            6,
        ),
    )


def active_user_stickiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Daily active users, trailing-window active users (WAU-style), and
    the DAU/WAU stickiness ratio per calendar day — the product-health
    staple.  Exact trailing-window DISTINCT without carrying sets or
    window DISTINCT aggregates (which neither engine supports): each
    (user, active-day) pair — already deduplicated, one row per user-day
    — is EXPLODED to the ``window_days`` report days it contributes to,
    then deduplicated per (user, report day) and counted.  Fanout is
    exactly ``window_days``× the user-day count (bounded, shuffle-
    friendly), never user-day²; both engines compute the identical
    integer counts.

    Report days are emitted only within the observed day span (the
    explode is clipped), so leading days reflect partial windows —
    the honest readout for the stream's first week.  A calendar day
    with trailing-window users but zero same-day actives (a gap day in
    the stream) is reported with ``dau = 0`` / ``stickiness = 0`` —
    not silently dropped; the join is driven from the WAU frame, whose
    day set is a superset of DAU's (every active day contributes to its
    own report day).
    """
    days = events.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("d")
    ).distinct()
    dau = days.groupBy("d").agg(F.count("*").alias("dau"))
    span = days.agg(F.max("d").alias("_dmax"))
    contrib = (
        days.crossJoin(F.broadcast(span))
        .select(
            "u",
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.least(
                        F.date_add(F.col("d"), window_days - 1),
                        F.col("_dmax"),
                    ),
                )
            ).alias("rd"),
        )
        .distinct()
    )
    wau = contrib.groupBy("rd").agg(F.count("*").alias("wau"))
    return (
        wau.join(dau, wau["rd"] == dau["d"], "left")
        .select(
            F.col("rd").alias("day"),
            F.coalesce(F.col("dau"), F.lit(0)).alias("dau"),
            "wau",
            F.round(
                F.coalesce(F.col("dau"), F.lit(0)) / F.col("wau"), 6
            ).alias("stickiness"),
        )
    )


def cohort_ltv(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    year, revenue accumulated by account age (years since first order),
    reported as cumulative revenue per cohort member — the curve a
    growth team reads to see whether newer cohorts monetize faster.

    Three bounded passes: first-order date per customer (one shuffle on
    the customer key), revenue per (cohort, age) cell (map-side combined
    decimal sums on a |cohorts × ages| key), then a running decimal sum
    over each cohort's tiny age axis.  Cohort size divides at the end,
    so the curve is per-capita and cohorts of different sizes compare
    directly.
    """
    first = orders.groupBy(cust_col).agg(
        F.min(F.col(ts_col)).alias("_first")
    )
    sized = first.groupBy(
        F.year("_first").cast("long").alias("cohort_year")
    ).agg(F.count("*").alias("cohort_users"))
    j = orders.join(first, cust_col).select(
        F.year("_first").cast("long").alias("cohort_year"),
        (F.year(ts_col) - F.year("_first")).cast("long").alias("age_years"),
        F.col(value_col).alias("_v"),
    )
    cells = j.groupBy("cohort_year", "age_years").agg(
        F.sum(F.col("_v").cast("decimal(18,4)")).alias("_rev")
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("age_years")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn("_cum", F.sum("_rev").over(w))
        .join(broadcast(sized), "cohort_year")
        .select(
            "cohort_year",
            "age_years",
            "cohort_users",
            F.round(F.col("_rev").cast("double"), 4).alias("rev"),
            F.round(
                F.col("_cum").cast("double") / F.col("cohort_users"), 6
            ).alias("cum_ltv_per_user"),
        )
    )


def forecast_baseline_eval(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    lag_model: int = 1,
    lag_naive: int = 7,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Forecast-quality readout for lag-based baselines per series: MAE
    of the ``lag_model``-step persistence forecast vs the ``lag_naive``
    seasonal-naive forecast, and their ratio — MASE-style, the scale-free
    number that says whether yesterday's value beats last week's value
    as a predictor (the sanity floor every real forecasting model must
    clear before it earns compute).

    Evaluation is restricted to rows where BOTH baselines are defined
    (same eval set, so the ratio is apples-to-apples).  Two LAG frames
    over ONE per-series sort; absolute errors accumulate as
    decimal(28,8) so the 6-dp MAEs are order-independent; a zero naive
    MAE (perfectly seasonal series) yields NULL mase — guarded, never a
    divide-by-zero.

    ``order_col`` must uniquely order rows within a series, or the LAG
    values (hence the errors) are partition-order-dependent — pass a
    ``tiebreak_col`` when duplicates are possible, as ``lag_autocorr``
    mandates.
    """
    order_by = (
        [order_col, tiebreak_col] if tiebreak_col is not None else [order_col]
    )
    w = Window.partitionBy(group_col).orderBy(*order_by)
    p = (
        df.select(
            F.col(group_col),
            F.col(value_col).alias("_y"),
            F.lag(value_col, lag_model).over(w).alias("_m"),
            F.lag(value_col, lag_naive).over(w).alias("_s"),
        )
        .filter(F.col("_m").isNotNull() & F.col("_s").isNotNull())
    )
    ae_m = F.abs(F.col("_y") - F.col("_m")).cast("decimal(28,8)")
    ae_s = F.abs(F.col("_y") - F.col("_s")).cast("decimal(28,8)")
    g = p.groupBy(group_col).agg(
        F.count("*").alias("n_eval"),
        F.sum(ae_m).cast("double").alias("_sm"),
        F.sum(ae_s).cast("double").alias("_ss"),
    )
    mae_m = F.col("_sm") / F.col("n_eval")
    mae_s = F.col("_ss") / F.col("n_eval")
    return g.select(
        group_col,
        "n_eval",
        F.round(mae_m, 6).alias("mae_model"),
        F.round(mae_s, 6).alias("mae_naive"),
        F.round(mae_m / F.when(mae_s > 0, mae_s), 6).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Trending items over a persisted daily-count index (round 9).


def daily_count_index(
    df: DataFrame, item_col: str, day_col: str
) -> DataFrame:
    """The persisted state behind trending-item reports: one
    ``(item, day, n)`` row per item-day.  Counts are additive, so daily
    deltas merge without history (``daily_count_index_merge``); decay is
    applied at READ time (``decayed_topk``), never baked into the stored
    counts — a stored pre-decayed score would make the merge order- and
    date-dependent and break exact delta ≡ full parity."""
    return df.groupBy(
        F.col(item_col).alias("item"), F.col(day_col).alias("day")
    ).agg(F.count("*").alias("n"))


def daily_count_index_merge(
    index: DataFrame,
    delta: DataFrame,
    retain_days: int | None = None,
    ref_day: str | None = None,
) -> DataFrame:
    """Merge a delta's daily counts into the index (union + sum — exact),
    optionally evicting item-days older than ``retain_days`` before
    ``ref_day``: the decay report's weight floor makes older days
    irrelevant, and the eviction is what bounds index size to
    |items| x |retained days| at 100 TB."""
    merged = (
        index.unionByName(delta)
        .groupBy("item", "day")
        .agg(F.sum("n").alias("n"))
    )
    if retain_days is not None:
        if ref_day is None:
            raise ValueError("retain_days requires ref_day")
        merged = merged.filter(
            F.col("day")
            >= F.date_sub(F.lit(ref_day).cast("date"), retain_days)
        )
    return merged


def decayed_topk(
    index: DataFrame,
    ref_day: str,
    k: int = 20,
    half_life_days: float = 30.0,
) -> DataFrame:
    """Trending top-k from the daily-count index: weight(item) =
    Σ_days n_d · 0.5^(age_d / half_life) — recency-weighted popularity,
    the standing merch/feed readout.

    Cross-engine determinism discipline: the decay is written as
    ``exp(ln(0.5) · age / half_life)`` (one libm exp both engines agree
    on — the pow() builtins differ by ULPs across libms), each item-day
    term accumulates as DECIMAL (order-independent sum), and the rank
    orders by the ROUNDED weight with the item id as tiebreak (q25
    discipline).  The report aggregates |items| x |retained days| index
    rows — never raw history."""
    import math

    age = F.datediff(F.lit(ref_day).cast("date"), F.col("day"))
    term = (
        F.col("n") * F.exp(F.lit(math.log(0.5)) * age / half_life_days)
    ).cast("decimal(28,12)")
    scored = index.groupBy("item").agg(
        F.round(F.sum(term).cast("double"), 6).alias("decayed_weight"),
        F.sum("n").alias("n_total"),
    )
    # Distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition heaps + a k-row driver merge) — an unpartitioned
    # row_number window here would single-task-sort the full |items|
    # scored frame (the skew.py:89 / text.py bigram_pmi discipline).
    # The rank window then runs over the k-row result only.
    topk = scored.orderBy(F.desc("decayed_weight"), F.asc("item")).limit(k)
    w = Window.orderBy(F.desc("decayed_weight"), F.asc("item"))
    return topk.withColumn("rank", F.row_number().over(w))
