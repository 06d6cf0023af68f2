"""Feature-store façade: materialize, serve, train, validate, replay.

The reference splits these across Feast + Redis + ad-hoc scripts; here each
is a thin composition over the engine:

- ``materialize``     — build a feature view over raw events, write latest
                        view + log (batch twin of the streaming pipeline).
- ``get_online``      — point lookups against the latest view (J3,
                        inference/features.py:129-246), served from the
                        view's committed parquet files on the driver.
- ``get_historical``  — PIT training frame via the as-of join (J4,
                        feast/feature_utils.py:151-168).
- ``parity_check``    — online/offline consistency validation
                        (feature_utils.py:170-232): the latest view must
                        equal the as-of snapshot of the log at `now`.
- ``replay``          — rebuild stores from the feature log (T11,
                        DesignDoc.md:129-131) — same code path as batch,
                        which is the point.

Serving path. The latest view holds one row per key, so a lookup needs no
shuffle, no broadcast and no scheduler: ``get_online`` lists the view's
visible files with Spark's hidden-file rule (``sinks._open_view``;
``upsert_latest`` lists with the same rule, so writer and reader see the
same files), reads them on the driver with ``pyarrow.dataset``
filtered to the requested keys, joins in Arrow and hands the rows back as
a local DataFrame (a ``LocalRelation``: collecting it runs no job). The
committed files are the serving surface, the way Structured
Streaming treats a file sink's output. A view holds one file per bucket,
and its bucket count is the ``defaultParallelism`` of the session that
created it, recorded in the view (``sinks.BUCKETS_RECORD``): a request
lists and opens that many files (4 on a 4-core host). The one Spark job
left per request is materialising the caller's keys frame; a keys frame
built from Arrow or pandas is itself local, and then the lookup runs
none. Not done here: bucket pruning (it needs a driver-side port of
Spark's ``xxhash64``), and isolation from a concurrent ``upsert_latest``
— the view is not yet versioned under the ``commit`` module's rule, so a
read that overlaps an upsert is no safer than a Spark scan of the same
directory.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType

from streaming_feature_store_spark.operators.asof import asof_join
from streaming_feature_store_spark.registry import FeatureView
from streaming_feature_store_spark.streaming.sinks import (
    _open_view, _spark_schema, append_log, upsert_latest,
)


def materialize(
    spark: SparkSession,
    view: FeatureView,
    events: DataFrame,
    latest_path: str,
    log_path: str,
) -> DataFrame:
    feats = view.builder(events)
    upsert_latest(
        spark, feats, latest_path, [view.entity.join_key], view.timestamp_field
    )
    if view.timestamp_field == "window_start_s":
        append_log(feats, log_path, view.timestamp_field)
    else:
        feats.write.mode("append").parquet(log_path)
    return feats


def _to_arrow(df: DataFrame) -> pa.Table:
    """``df`` as an Arrow table, materialised once. ``collect`` serves a
    local plan (``createDataFrame`` of Arrow or pandas) without a Spark job,
    where ``toArrow`` always runs one; the rows are converted the way Spark
    Connect converts local data, so types and time zones survive."""
    rows = df.collect()
    if not rows:
        return to_arrow_schema(df.schema).empty_table()
    return LocalDataToArrowConversion.convert(rows, df.schema, use_large_var_types=False)


def get_online(
    spark: SparkSession,
    latest_path: str,
    keys: DataFrame,
    join_key: str,
    ts_col: str | None = "window_start_s",
    now_s: int | None = None,
) -> DataFrame:
    """Point lookups against the latest view, with the serving contract's
    freshness column: ``freshness_s = now − feature_timestamp`` per row
    (inference/features.py:199-221 computes and gauges the same quantity).
    ``now_s`` pins the clock for tests/backfills; None = the time of the
    call. ``ts_col=None`` skips the column for views without a timestamp.

    The output is what ``point_lookup`` (a right join of the view to the
    keys) gives: the key as the keys frame types it, the view's columns
    (``_bucket`` included), the keys frame's other columns, then
    ``freshness_s``; one row per requested key, duplicates and nulls
    included, with nulls where the view has no row. The view is read on
    the driver (module docstring), so the only Spark work is materialising
    ``keys`` once; the returned frame is local and collects without a job.
    """
    req = _to_arrow(keys)
    view = _open_view(latest_path)
    view_schema = _spark_schema(view)
    want = pc.cast(req.column(join_key), view.schema.field(join_key).type)
    rows = view.to_table(filter=ds.field(join_key).isin(pc.drop_null(pc.unique(want))))
    # one view row per key: a left join is a positional take
    hit = rows.take(pc.index_in(want, value_set=rows.column(join_key), skip_nulls=True))

    view_fields = [f for f in view_schema.fields if f.name != join_key]
    extra = [keys.schema[n] for n in req.column_names if n != join_key]
    fields = [keys.schema[join_key], *view_fields, *extra]
    columns = [
        req.column(join_key),
        *(hit.column(f.name) for f in view_fields),
        *(req.column(f.name) for f in extra),
    ]
    names = [f.name for f in fields]
    if ts_col is not None and ts_col in names:
        now = int(time.time()) if now_s is None else now_s
        ts = columns[names.index(ts_col)]
        columns.append(pc.cast(pc.subtract(now, ts), pa.int64(), safe=False))
        fields.append(StructField("freshness_s", LongType(), True))
    table = pa.Table.from_arrays(columns, names=[f.name for f in fields])
    return spark.createDataFrame(table, StructType(fields))


def get_historical(
    labels: DataFrame,
    feature_log: DataFrame,
    join_key: str,
    label_ts_us: str,
    feature_ts_us: str,
    feature_cols: list[str],
    label_cols: list[str],
    tiebreak_col: str,
) -> DataFrame:
    """Point-in-time-correct training frame (no label leakage)."""
    return asof_join(
        labels,
        feature_log,
        join_key,
        label_ts_us,
        feature_ts_us,
        feature_cols,
        label_cols,
        tiebreak_col,
    )


def latest_from_log(log: DataFrame, join_key: str, ts_col: str) -> DataFrame:
    """Newest log row per key. A stream-written log holds one row per
    (key, window) and micro-batch, so equal ``ts_col`` values are broken by
    the later ``_batch``: the order is total and replay is deterministic."""
    order = [F.desc(ts_col)] + ([F.desc("_batch")] if "_batch" in log.columns else [])
    w = Window.partitionBy(join_key).orderBy(*order)
    return log.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def parity_check(
    spark: SparkSession,
    latest_path: str,
    log_path: str,
    join_key: str,
    ts_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Online/offline parity: rows where the latest view disagrees with the
    newest log entry. Empty result = consistent stores."""
    online = spark.read.parquet(latest_path).select(join_key, ts_col, *compare_cols)
    offline = latest_from_log(spark.read.parquet(log_path), join_key, ts_col).select(
        join_key,
        F.col(ts_col).alias("_off_ts"),
        *[F.col(c).alias(f"_off_{c}") for c in compare_cols],
    )
    j = online.join(offline, join_key, "full")
    mism = F.lit(False)
    for c in compare_cols:
        mism = mism | ~(F.col(c).eqNullSafe(F.col(f"_off_{c}")))
    return j.filter(mism | ~F.col(ts_col).eqNullSafe(F.col("_off_ts")))


def replay(
    spark: SparkSession,
    log_path: str,
    latest_path: str,
    join_key: str,
    ts_col: str,
) -> None:
    """Rebuild the latest view purely from the feature log; the log's
    partition columns (``_date``, and ``_batch`` on a stream-written log)
    are not view columns."""
    log = spark.read.parquet(log_path)
    rebuilt = latest_from_log(log, join_key, ts_col).drop("_date", "_batch")
    upsert_latest(spark, rebuilt, latest_path, [join_key], ts_col)
