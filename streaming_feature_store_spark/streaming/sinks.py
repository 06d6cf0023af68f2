"""Feature-store sinks: latest view (upsert), append-only feature log, DLQ.

Reference parity: the Redis sink writes three structures per feature record —
hash (current features), latest-JSON, and a time-series zset, all with 24 h
TTL (streaming/core/sinks/redis_sink.py:96-168). Here:

- **latest view** = one row per entity key, newest event-time wins. Written
  idempotently per micro-batch from ``foreachBatch`` — re-processing a batch
  after restart converges to the same table (effectively-once on top of
  Spark's checkpointing, SURVEY §2.6 T5). The one realization is a parquet
  rewrite of the key-hash buckets the batch touches (``upsert_latest``).
  The view's bucket count is set when it is created, to the session's
  ``defaultParallelism``, and kept in a one-line ``_buckets`` record in its
  root (hidden from Spark's listing and ``_open_view``); every later write
  hashes with the recorded count.
- **feature log** = append-only, date-partitioned; this is the replay/
  backfill source (DesignDoc.md:129-131) and the offline training store.
  A stream writes it one ``_batch=`` partition per micro-batch through
  ``write_batch``, the one write rule of every append-style log in
  ``streaming/``.
- **TTL** = retention delete: drop log partitions / latest rows older than
  the retention horizon (redis TTL 24 h → `retention_delete`).
- **DLQ** = malformed records appended to a quarantine table
  (config.py:56-59 declares per-topic DLQs; the reference never wired them —
  feature_job.py:96-105 counts and TODOs).
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
from collections.abc import Callable

import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructField, StructType

from streaming_feature_store_spark import commit


# A latest view's bucket count, one decimal line in its root. The name is
# ``_``-prefixed with no ``=``, so Spark's listing, ``spark.read.parquet``
# and ``_open_view`` skip it. A view's count never changes: a write with a
# second count would read the wrong ``_bucket=`` dirs and keep duplicate keys.
BUCKETS_RECORD = "_buckets"


def upsert_latest(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    key_cols: list[str],
    ts_col: str = "window_start_s",
) -> bool:
    """Merge a feature micro-batch into the latest-view table at ``path``;
    returns whether it wrote (False for an empty batch, which writes nothing).

    Newest ``ts_col`` per key wins; ties broken by preferring the incoming
    row (the reference's Redis HSET overwrite semantics). Idempotent: the
    same batch applied twice yields the same table.

    ``_bucket=`` dirs by key hash, one file each; a DYNAMIC partition
    overwrite rewrites only the touched buckets. The bucket count belongs
    to the view: its first write records the session's
    ``defaultParallelism`` in ``BUCKETS_RECORD`` (tmp + rename, before any
    data file), and every later write hashes with the recorded count,
    whatever its own session's parallelism. The merge write runs one task
    per touched bucket, at most ``defaultParallelism``, so more buckets
    would add files to read, rewrite and serve but no parallelism; a live
    batch of a few hundred keys touches every bucket either way. A view
    with data files but no record raises instead of being rehashed.

    Three Spark jobs in the stream sink at any batch size: the
    touched-bucket collect (the first action, so it fills a persisted
    batch's cache), one shuffle by ``_bucket``, the write; a fourth where
    AQE is on (the stream's session has it off).
    """
    recorded = _recorded_buckets(path)
    n_buckets = recorded or spark.sparkContext.defaultParallelism
    bucket = F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in key_cols]), F.lit(n_buckets))
    incoming = batch_df.withColumn("_bucket", bucket).withColumn("_src", F.lit(1))
    touched = [r["_bucket"] for r in incoming.select("_bucket").distinct().collect()]
    if not touched:
        return False
    if recorded is None:
        _write_bucket_record(path, n_buckets)
    merged = incoming
    current = _read_buckets(spark, path, touched)
    if current is not None:
        merged = current.withColumn("_src", F.lit(0)).unionByName(incoming, allowMissingColumns=True)
    w = Window.partitionBy("_bucket", *key_cols).orderBy(F.desc(ts_col), F.desc("_src"))
    latest = (
        merged.repartition(min(len(touched), spark.sparkContext.defaultParallelism), "_bucket")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    writer = latest.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("_bucket").parquet(path)
    return True


def _recorded_buckets(path: str) -> int | None:
    """The bucket count recorded in the view at ``path``; None when there
    is no view yet. Raises for a view with data files and no record: no
    count can be trusted to match the one its files were hashed with."""
    fs, root = _view_fs(path)
    try:
        with fs.open_input_stream(f"{root}/{BUCKETS_RECORD}") as f:
            return int(f.read().decode())
    except FileNotFoundError:
        if _data_files(fs, root):
            raise ValueError(
                f"latest view {path} has data files but no {BUCKETS_RECORD} record of "
                "its bucket count; rebuild it from the feature log (store.replay)"
            ) from None
        return None


def _write_bucket_record(path: str, n_buckets: int) -> None:
    """Create the view at ``path`` with ``n_buckets`` buckets. The record
    is written by ``commit.write_text`` (tmp + rename), so it is whole or
    absent."""
    commit.write_text(f"{path.rstrip('/')}/{BUCKETS_RECORD}", f"{n_buckets}\n")


def _read_buckets(spark: SparkSession, path: str, buckets: list[int]) -> DataFrame | None:
    """The view's current rows in ``buckets`` (None if it has none): the
    files ``_open_view`` would list there, under their footer schema, so
    Spark infers no schema and (the session's discovery threshold) lists
    them on the driver."""
    fs, root = _view_fs(path)
    want = {f"_bucket={b}" for b in buckets}
    files = [f for f in _data_files(fs, root) if os.path.basename(os.path.dirname(f)) in want]
    if not files:
        return None
    schema = _spark_schema(_dataset(fs, root, files))
    return spark.read.schema(schema).option("basePath", os.path.abspath(path)).parquet(*files)


def _hidden(name: str) -> bool:
    """Spark's rule for path names a file-source listing skips
    (``HadoopFSUtils.shouldFilterOutPathName``): ``.``-prefixed names and
    ``_``-prefixed ones that are not ``col=value`` partition dirs, so
    ``_SUCCESS``, ``_buckets``, ``_temporary/``, ``.spark-staging-*/`` and
    ``.crc`` files are skipped while ``_bucket=N/`` is read."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _view_fs(path: str) -> tuple[pafs.FileSystem, str]:
    """The filesystem of ``path`` and the view's root on it."""
    fs, root = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    return fs, root.rstrip("/")


def _data_files(fs: pafs.FileSystem, root: str) -> list[str]:
    """The parquet files Spark would read under ``root``, sorted; none
    when ``root`` does not exist."""
    infos = fs.get_file_info(pafs.FileSelector(root, allow_not_found=True, recursive=True))
    return sorted(
        i.path
        for i in infos
        if i.type == pafs.FileType.File
        and not any(_hidden(p) for p in i.path[len(root) + 1 :].split("/"))
    )


def _dataset(fs: pafs.FileSystem, root: str, files: list[str]) -> ds.Dataset:
    """``files`` as one dataset with the view's hive partition columns."""
    return ds.dataset(
        files,
        format="parquet",
        filesystem=fs,
        partitioning=ds.HivePartitioning.discover(),
        partition_base_dir=root,
    )


def _open_view(path: str) -> ds.Dataset:
    """The parquet files Spark would read at ``path``, as one dataset with
    hive partition columns. pyarrow's own discovery skips every
    ``_``-prefixed name, ``_bucket=`` dirs included, so list explicitly."""
    fs, root = _view_fs(path)
    files = _data_files(fs, root)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return _dataset(fs, root, files)


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_schema(view: ds.Dataset) -> StructType:
    """The schema ``spark.read.parquet`` gives the view, from the data: the
    Spark schema Spark writes into every parquet footer, then the partition
    columns; all nullable, as a file scan makes them."""
    meta = (view.schema.metadata or {}).get(_SPARK_ROW_METADATA)
    if meta is None:
        raise ValueError("latest view files carry no Spark schema; write them with upsert_latest")
    fields = list(StructType.fromJson(json.loads(meta)).fields)
    names = {f.name for f in fields}
    fields += [
        StructField(a.name, from_arrow_type(a.type)) for a in view.schema if a.name not in names
    ]
    return StructType([StructField(f.name, f.dataType, True, f.metadata) for f in fields])


def write_batch(df: DataFrame, path: str, batch_id: int, *by: str) -> None:
    """Write micro-batch ``batch_id``'s rows to the log at ``path`` as its
    own ``_batch=<batch_id>[/<by>=…]`` partition, by dynamic partition
    overwrite. A retried or replayed micro-batch re-runs under the same id
    over the same input, so its write REPLACES its partition instead of
    double-appending: checkpoint + this write is effectively-once (T5), and
    no reader of the log needs to know how replays happen. Every
    append-style log in ``streaming/`` writes through here."""
    writer = df.withColumn("_batch", F.lit(batch_id)).write.mode("overwrite")
    writer.option("partitionOverwriteMode", "dynamic").partitionBy("_batch", *by).parquet(path)


def _start_stream(
    frame: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str | None,
    trigger_available_now: bool,
):
    """Start ``frame`` in append mode with ``sink`` as its foreachBatch
    function; returns the StreamingQuery. ``checkpoint`` makes the query
    restartable; ``trigger_available_now`` drains the available input, then
    stops."""
    writer = frame.writeStream.outputMode("append").foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def append_log(
    batch_df: DataFrame,
    path: str,
    ts_col: str = "window_start_s",
    batch_id: int | None = None,
) -> None:
    """Append the batch to the date-partitioned feature log (offline store).
    Partitioning by date keeps retention deletes and time-range training
    reads to partition-pruned scans at 100 TB.

    When ``batch_id`` is provided (the foreachBatch path), the rows go
    through ``write_batch`` under ``_batch=<batch_id>/_date=…``. Plain
    appends (batch materialization) skip the batch column."""
    d = batch_df.withColumn(
        "_date", F.to_date(F.timestamp_seconds(F.col(ts_col)))
    )
    if batch_id is None:
        d.write.mode("append").partitionBy("_date").parquet(path)
        return
    write_batch(d, path, batch_id, "_date")


def _partition_cols(path: str) -> list[str]:
    """Infer hive-style partition columns from directory names, walking
    nested levels (``_batch=…/_date=…`` → ['_batch', '_date'])."""
    cols: list[str] = []
    cur = path
    while True:
        try:
            entries = [
                e for e in os.listdir(cur)
                if "=" in e and os.path.isdir(os.path.join(cur, e))
            ]
        except FileNotFoundError:
            break
        if not entries:
            break
        cols.append(entries[0].split("=", 1)[0])
        cur = os.path.join(cur, entries[0])
    return cols


def retention_delete(
    spark: SparkSession, path: str, ts_col: str, horizon_s: int, now_s: int
) -> None:
    """TTL semantics (Redis 24 h TTL → retention job): rewrite the table
    without rows older than the horizon, PRESERVING the table's partition
    layout (inferred from the directory names) and a latest view's
    ``BUCKETS_RECORD`` so later upsert_latest / append_log merges keep
    their replace-only-touched-partitions invariants. The rmtree+rename
    swap is driver-local-filesystem only and not atomic for concurrent
    readers — on object storage use Delta/Iceberg, where this is a
    metadata-only operation; for date-partitioned logs prefer
    ``retention_drop_partitions`` (no rewrite at all)."""
    parts = _partition_cols(path)
    df = spark.read.parquet(path)
    kept = df.filter(F.col(ts_col) >= F.lit(now_s - horizon_s))
    tmp = path + ".tmp"
    w = kept.write.mode("overwrite")
    if parts:
        w = w.partitionBy(*parts)
    w.parquet(tmp)
    record = os.path.join(path, BUCKETS_RECORD)
    if os.path.exists(record):
        shutil.copy(record, os.path.join(tmp, BUCKETS_RECORD))
    shutil.rmtree(path)
    os.rename(tmp, path)


def retention_drop_partitions(
    path: str, horizon_s: int, now_s: int, date_col: str = "_date"
) -> list[str]:
    """Log-path TTL without any rewrite: delete whole ``_date=`` partition
    directories strictly older than the horizon — the parquet analog of a
    Delta ``DELETE WHERE _date < …`` partition drop. Rows inside the cutoff
    day are kept (conservative: a partition is only dropped when its entire
    day is expired). Days are UTC days, as ``append_log`` derives ``_date``
    in the session's UTC zone. Returns the dropped partition names."""
    cutoff = datetime.datetime.fromtimestamp(now_s - horizon_s, datetime.timezone.utc).date()
    dropped = []
    for root, dirs, _files in os.walk(path):
        for d in list(dirs):
            if d.startswith(f"{date_col}="):
                try:
                    day = datetime.date.fromisoformat(d.split("=", 1)[1])
                except ValueError:
                    continue
                if day < cutoff:
                    shutil.rmtree(os.path.join(root, d))
                    dropped.append(d)
                    dirs.remove(d)
    return dropped


def route_dlq(
    parsed: DataFrame, dlq_path: str | None, corrupt_col: str = "_corrupt"
) -> DataFrame:
    """Split malformed rows to the DLQ (T8); returns the clean rows.

    BATCH frames only: the eager DLQ write is illegal on a streaming frame —
    call this inside ``foreachBatch`` on the micro-batch (the S5 Kafka
    decode path does exactly that). Nothing is cached here: the DLQ write
    and the caller's consumption of the clean side each evaluate
    ``parsed``. A caller that wants one parse persists ``parsed`` itself
    and unpersists it after its sink write, so no cached plan outlives
    the micro-batch."""
    if parsed.isStreaming:
        raise ValueError(
            "route_dlq needs a batch DataFrame; call it inside foreachBatch"
        )
    if corrupt_col not in parsed.columns:
        return parsed
    if dlq_path is not None:
        parsed.filter(F.col(corrupt_col).isNotNull()).write.mode("append").parquet(
            dlq_path
        )
    return parsed.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
