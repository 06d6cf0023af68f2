"""Streaming mergeable-summary rollups — the streaming half of q108.

The whole point of the Datasketches family (q108-q111) is MERGEABILITY:
partial sketches built on disjoint slices union into the exact same
sketch state as one pass over all rows. In streaming that property is the
freshness path the reference serves from Redis (streaming/core/sinks/
redis_sink.py:131-151 keeps per-entity aggregates fresh per batch): each
micro-batch reduces to small PARTIALS (per-day sketches, decimal moments,
counts, bucket counts, top-k candidates — bytes, not rows) in a partial
log; any read horizon (day / week / month) is then a cheap merge over the
partials — never a re-scan of raw events.

Every stream here is one partial log with one write rule: a micro-batch's
partials are its own ``_batch=<id>`` partition, written by
``sinks.write_batch``. A retried or replayed micro-batch (a restart from
the checkpoint re-runs batch ``n`` under the same id over the same input)
replaces that partition, so the log holds each batch exactly once and
every reader merges all the rows it sees, whatever the summary. A
periodic ``compact_partials`` folds an HLL log into one ``_batch=-1``
partition of a fresh generation, which the same readers read.

At 100 TB scale the per-batch reduction is a map-side partial aggregate
over the batch only; shuffle volume is days × sketch bytes per batch.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from streaming_feature_store_spark.operators.curation import weighted_priority_sample
from streaming_feature_store_spark.operators.drift import histogram_index
from streaming_feature_store_spark.operators.incremental import (
    merge_partials,
    partial_aggregate,
)
from streaming_feature_store_spark.streaming.sinks import _start_stream, write_batch


def _partials_stream(
    events: DataFrame,
    out_path: str,
    reduce: Callable[[DataFrame], DataFrame],
    checkpoint: str | None,
    trigger_available_now: bool,
):
    """Start a partial log at ``out_path``: each non-empty micro-batch
    writes ``reduce(batch_df)`` through ``write_batch``. Returns the
    StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            write_batch(reduce(batch_df), out_path, batch_id)

    return _start_stream(events, sink, checkpoint, trigger_available_now)


def hll_partials_stream(
    spark: SparkSession,
    events: DataFrame,
    out_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the HLL partial log: ``sketch_partials_stream`` with
    ``hll_sketch_agg(key_col)``, one (day, sk) sketch per day the batch
    touches; returns the StreamingQuery. No watermark is needed: a late
    event simply contributes another partial to its (old) day, and the
    read-side union folds it in — sketches make late data a non-event
    instead of a dropped row.
    """
    return sketch_partials_stream(
        spark, events, out_path, f"hll_sketch_agg({key_col})", ts_col,
        checkpoint, trigger_available_now,
    )


def hll_estimate(
    spark: SparkSession, partials_path: str, horizon: str = "day"
) -> DataFrame:
    """Distinct-count estimates over the partial log at any horizon
    without re-scanning events: ``day`` → (day, est) or ``week`` →
    (week, est), where week is the same epoch-week bucket q108 uses
    (floor(epoch_seconds / 604800))."""
    p = spark.read.parquet(partials_path)
    if horizon == "day":
        g = p.groupBy("day")
    elif horizon == "week":
        g = p.withColumn(
            "week",
            F.floor(F.unix_timestamp(F.col("day").cast("timestamp")) / 604800).cast(
                "long"
            ),
        ).groupBy("week")
    else:
        raise ValueError(f"horizon must be day|week, got {horizon}")
    return g.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("est")
    )


def algebraic_partials_stream(
    spark: SparkSession,
    events: DataFrame,
    out_path: str,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming twin of ``operators/incremental.partial_aggregate`` —
    the T11 replay contract for ALGEBRAIC states, not just sketches:
    each micro-batch collapses to exact decimal (n, Σx, Σx², min, max)
    state rows per (group, day) in the partial log;
    :func:`merged_algebraic_view` answers group-level questions by
    merging states, never rescanning events.
    """
    return _partials_stream(
        events,
        out_path,
        lambda b: partial_aggregate(b, [group_col], F.to_date(ts_col), value_col),
        checkpoint,
        trigger_available_now,
    )


def merged_algebraic_view(
    spark: SparkSession, partials_path: str, group_cols: list[str]
) -> DataFrame:
    """Group totals from the algebraic partial log by ``merge_partials`` —
    bit-identical to a direct aggregation over all raw rows (decimal
    moments are order- and shard-independent)."""
    return merge_partials(spark.read.parquet(partials_path), group_cols)


def compact_partials(spark: SparkSession, partials_path: str, out_path: str) -> None:
    """Fold the HLL partial log down to one sketch per day (same union
    expression the estimates use), written as the ``_batch=-1`` partition
    of a fresh generation — run periodically when micro-batches are
    frequent enough for the log to matter. ``out_path`` must differ from
    ``partials_path``: parquet cannot be overwritten while a job is
    reading it."""
    if out_path == partials_path:
        raise ValueError("compact_partials: out_path must be a fresh generation")
    merged = (
        spark.read.parquet(partials_path)
        .groupBy("day")
        .agg(F.expr("hll_union_agg(sk)").alias("sk"))
    )
    write_batch(merged, out_path, -1)


def sketch_partials_stream(
    spark: SparkSession,
    events: DataFrame,
    out_path: str,
    agg_sql: str,
    ts_col: str = "ts",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Generic sketch partial log for the whole mergeable Datasketches
    family: ``agg_sql`` is any sketch aggregate over the batch's columns
    (e.g. ``kll_sketch_agg_double(value)`` for streaming quantiles,
    ``theta_sketch_agg(user_id)`` for streaming set algebra). Each
    micro-batch writes one (day, sk) partial per day; the matching
    union/estimate expression runs at read time (``merge_estimate``).
    """
    return _partials_stream(
        events,
        out_path,
        lambda b: b.groupBy(F.to_date(ts_col).alias("day")).agg(F.expr(agg_sql).alias("sk")),
        checkpoint,
        trigger_available_now,
    )


def merge_estimate(
    spark: SparkSession, partials_path: str, estimate_sql: str
) -> DataFrame:
    """Per-day estimates over a generic sketch-partial log:
    ``estimate_sql`` is the union+extract expression over column ``sk``
    (e.g. ``kll_sketch_get_quantile_double(kll_merge_agg_double(sk),
    0.5)``)."""
    p = spark.read.parquet(partials_path)
    return p.groupBy("day").agg(F.expr(estimate_sql).alias("est"))


def priority_sample_stream(
    spark: SparkSession,
    events: DataFrame,
    out_path: str,
    k: int,
    weight_sql: str,
    id_col: str = "event_id",
    strata_col: str | None = None,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming weighted sampling without replacement — the streaming
    twin of ``curation.weighted_priority_sample``, on the same partial-log
    pattern as the sketch rollups above. A Sequential-Poisson priority
    sample IS a mergeable summary: priority ``w/u`` is row-intrinsic, so
    top-k(slice₁ ∪ slice₂) = top-k(top-k(slice₁) ∪ top-k(slice₂)).  Each
    micro-batch writes its per-stratum top-k candidate rows (≤ k rows per
    stratum per batch — bytes, not the batch); ``priority_sample_merge``
    re-ranks the log at read time.

    ``weight_sql`` is a SQL expression over the batch columns (e.g.
    ``greatest(coalesce(value, 0.0), 0.0) + 1.0``); weights must be > 0.
    """

    def reduce(b: DataFrame) -> DataFrame:
        sample = weighted_priority_sample(
            b, k, F.expr(weight_sql), id_col=id_col, strata_col=strata_col
        )
        return sample.drop("samp_rank").withColumn("_w", F.expr(weight_sql))

    return _partials_stream(events, out_path, reduce, checkpoint, trigger_available_now)


def priority_sample_merge(
    spark: SparkSession,
    partials_path: str,
    k: int,
    id_col: str = "event_id",
    strata_col: str | None = None,
) -> DataFrame:
    """Global top-k over the candidate log — identical selection to the
    batch ``weighted_priority_sample`` over all rows ever streamed (the
    test asserts set equality). An id streamed in several batches keeps
    one row, picked DETERMINISTICALLY (max_by on ``_batch``, ties on the
    larger weight): same id → same md5 priority → same rank, and an id
    whose weight changed across batches — outside the documented
    same-id-same-weight contract — still yields one reproducible answer
    (latest write wins) instead of a partition-order-dependent one."""
    keys = ([strata_col] if strata_col else []) + [id_col]
    raw = spark.read.parquet(partials_path)
    rest = [c for c in raw.columns if c not in keys]
    p = (
        raw.groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(*rest), F.struct("_batch", "_w")
            ).alias("_r")
        )
        .select(*keys, *[F.col("_r")[c].alias(c) for c in rest])
    )
    return weighted_priority_sample(
        p, k, F.col("_w"), id_col=id_col, strata_col=strata_col
    ).drop("_w", "_batch")


def daily_metric_stream(
    spark: SparkSession,
    events: DataFrame,
    out_path: str,
    ts_col: str = "ts",
    value_col: str | None = None,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming feed for the CUSUM/level monitors (drift.py): per-batch
    (day, n, v_sum) partials — counts and decimal-exact sums are the
    simplest mergeable summaries of all, so the monitor's daily series is
    maintained without ever re-scanning events."""
    v = (
        F.sum(F.col(value_col).cast("decimal(18,4)"))
        if value_col
        else F.lit(None).cast("decimal(18,4)")
    )
    return _partials_stream(
        events,
        out_path,
        lambda b: b.groupBy(F.to_date(ts_col).alias("day")).agg(
            F.count("*").alias("n"), v.alias("v_sum")
        ),
        checkpoint,
        trigger_available_now,
    )


def daily_metric_series(spark: SparkSession, partials_path: str) -> DataFrame:
    """Merge the partial log to the (day, m) series ``drift.
    cusum_changepoint``-style monitors consume — COUNT partials sum."""
    return spark.read.parquet(partials_path).groupBy("day").agg(
        F.sum("n").cast("double").alias("m"),
        F.sum("v_sum").cast("double").alias("v_sum"),
    )


def histogram_partials_stream(
    spark: SparkSession,
    events: DataFrame,
    out_path: str,
    specs: dict[str, list[float]],
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming twin of the persisted drift baseline
    (``operators/drift.histogram_index``): each micro-batch collapses to
    its fixed-edge bucket counts — |features| x |buckets| rows — in the
    partial log.  The drift monitor then prices PSI-vs-baseline from
    :func:`merged_histogram_view` without ever rescanning events: the
    reference recomputes its expected distribution from the full
    training frame per check (training/drift_check.py:138-169); here the
    baseline is maintained BY the stream as it flows.
    """
    return _partials_stream(
        events, out_path, lambda b: histogram_index(b, specs), checkpoint, trigger_available_now
    )


def merged_histogram_view(spark: SparkSession, partials_path: str) -> DataFrame:
    """The live drift baseline from the histogram partial log: counts
    summed per (feature, bucket) — bit-identical to ``histogram_index``
    over all raw rows (integer counts are order- and shard-independent),
    ready for ``psi_from_histograms`` / ``histogram_quantiles``."""
    return (
        spark.read.parquet(partials_path)
        .groupBy("feature", "bucket")
        .agg(F.sum("n").alias("n"))
    )
