"""The store façade: ``get_online``'s driver-side serving path (parity with
the J3 ``point_lookup`` right join on both registry views, Spark's
hidden-file rule, the Spark jobs a lookup schedules) and the total order
``latest_from_log`` puts on a stream-written feature log."""

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from streaming_feature_store_spark.operators.enrich import point_lookup
from streaming_feature_store_spark.registry import default_registry
from streaming_feature_store_spark.store import (
    get_online,
    latest_from_log,
    materialize,
    replay,
)
from streaming_feature_store_spark.streaming.sinks import append_log, upsert_latest

BASE = dt.datetime(2024, 1, 1)
NOW_S = int((BASE + dt.timedelta(hours=3)).timestamp())
USERS = 12
KNOWN, UNKNOWN = [0, 3, 5, 11], [1000, 2000]
EVENT_TYPES = ("view", "click", "purchase", "signup")


def _events(spark):
    rows = [
        (i, i % USERS, BASE + dt.timedelta(seconds=41 * i), float(i % 97), EVENT_TYPES[i % 4])
        for i in range(240)
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double, event_type string"
    )


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_parity(spark, latest, keys, view):
    ts = view.timestamp_field
    out = get_online(spark, latest, keys, "user_id", ts_col=ts, now_s=NOW_S)
    ref = point_lookup(spark.read.parquet(latest), keys, "user_id").withColumn(
        "freshness_s", (F.lit(NOW_S) - F.col(ts)).cast("long")
    )
    assert out.columns == ref.columns
    assert out.dtypes == ref.dtypes
    assert out.schema == ref.schema
    got = _sorted_rows(out)
    assert got == _sorted_rows(ref)
    assert len(got) == keys.count()
    return got


@pytest.mark.parametrize("view_name", ["transaction_stats_5m", "user_engagement_session"])
def test_get_online_matches_point_lookup(spark, tmp_path, view_name):
    view = default_registry().views[view_name]
    latest = str(tmp_path / "latest")
    materialize(spark, view, _events(spark), latest, str(tmp_path / "log"))
    mixed = [(k,) for k in KNOWN + UNKNOWN + [KNOWN[0], UNKNOWN[0], None]]

    # known, unknown, duplicate and null keys
    long_keys = spark.createDataFrame(mixed, "user_id long")
    served = _assert_parity(spark, latest, long_keys, view)
    assert sum(r[0] == KNOWN[0] for r in served) == 2
    assert all(r[1] is None for r in served if r[0] is None or r[0] in UNKNOWN)

    # no keys at all
    assert _assert_parity(spark, latest, long_keys.limit(0), view) == []

    # an int keys frame against the view's long key column
    _assert_parity(spark, latest, spark.createDataFrame(mixed, "user_id int"), view)

    # a keys frame with an extra column
    tagged = spark.createDataFrame(
        [(k, f"req-{i}") for i, (k,) in enumerate(mixed)], "user_id long, req string"
    )
    _assert_parity(spark, latest, tagged, view)

    # a read after upsert_latest: newer rows for two known keys, one new key
    current = spark.read.parquet(latest).drop("_bucket")
    newer = current.filter(F.col("user_id").isin(KNOWN[:2])).withColumn(
        view.timestamp_field, F.col(view.timestamp_field) + 600
    )
    fresh = current.filter(F.col("user_id") == KNOWN[2]).withColumn(
        "user_id", F.lit(UNKNOWN[1]).cast("long")
    )
    upsert_latest(spark, newer.unionByName(fresh), latest, ["user_id"], view.timestamp_field)
    after = _assert_parity(spark, latest, long_keys, view)
    assert any(r[0] == UNKNOWN[1] and r[1] is not None for r in after)

    # leftovers of an interrupted write are invisible to both readers
    some_file = next(
        os.path.join(d, f)
        for d, _, files in os.walk(latest)
        for f in files
        if f.endswith(".parquet")
    )
    for junk in ("_temporary/0/_bucket=1", ".spark-staging-x/_bucket=1"):
        os.makedirs(os.path.join(latest, junk))
        shutil.copy(some_file, os.path.join(latest, junk, "part-00000-junk.parquet"))
    assert _assert_parity(spark, latest, long_keys, view) == after


def test_get_online_spark_jobs(spark, tmp_path):
    """The returned frame is local: with an Arrow-built keys frame a lookup
    runs no Spark job; with a Python-list keys frame, exactly the one that
    materialises the keys."""
    view = default_registry().views["transaction_stats_5m"]
    latest = str(tmp_path / "latest")
    materialize(spark, view, _events(spark), latest, str(tmp_path / "log"))
    sc = spark.sparkContext
    keys = KNOWN + UNKNOWN

    def jobs(make_keys, group):
        sc.setJobGroup(group, "get_online job count")
        try:
            rows = get_online(spark, latest, make_keys(), "user_id", now_s=NOW_S).collect()
            return len(sc.statusTracker().getJobIdsForGroup(group)), rows
        finally:
            sc.setJobGroup(None, None)

    n_arrow, rows = jobs(
        lambda: spark.createDataFrame(pa.table({"user_id": pa.array(keys, pa.int64())})),
        "online-arrow-keys",
    )
    assert n_arrow == 0
    assert sorted(r["user_id"] for r in rows) == sorted(keys)
    n_list, _ = jobs(
        lambda: spark.createDataFrame([(k,) for k in keys], "user_id long"),
        "online-list-keys",
    )
    assert n_list == 1


def test_latest_from_log_breaks_ties_by_batch(spark, tmp_path):
    """Two micro-batches of a stream update the same (user, window): the
    log holds both rows under ``_batch=0`` and ``_batch=1`` with equal
    ``window_start_s``, and the newest row per user must be batch 1's."""
    log = str(tmp_path / "log")
    ws = int(BASE.timestamp())
    cols = "user_id long, window_start_s long, event_count long"
    # batch 0 also holds other users, so its file is the larger one
    first = [(u, ws, 1) for u in range(USERS)] + [(u, ws - 60, 1) for u in range(100, 400)]
    append_log(spark.createDataFrame(first, cols), log, batch_id=0)
    append_log(spark.createDataFrame([(u, ws, 2) for u in range(USERS)], cols), log, batch_id=1)
    newest = latest_from_log(spark.read.parquet(log), "user_id", "window_start_s")
    got = {r["user_id"]: (r["event_count"], r["_batch"]) for r in newest.collect()}
    assert all(got[u] == (2, 1) for u in range(USERS)), got

    # replay rebuilds the view from the newest rows, without the log's
    # partition columns
    latest = str(tmp_path / "latest")
    replay(spark, log, latest, "user_id", "window_start_s")
    view = spark.read.parquet(latest)
    assert view.columns == ["user_id", "window_start_s", "event_count", "_bucket"]
    rebuilt = {r["user_id"]: r["event_count"] for r in view.collect()}
    assert all(rebuilt[u] == 2 for u in range(USERS))
