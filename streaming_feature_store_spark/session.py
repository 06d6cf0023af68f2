"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) with a driver heap sized from the host's memory
(``driver_heap``); the same configs are what we would ship to a
1000-executor cluster, where only ``spark.sql.shuffle.partitions`` (≈ 2-3×
total cores), memory sizing and the two local-file defaults below change.

Key choices (and why they survive a 100 TB scale-up):

- **AQE on** — runtime partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion based on observed sizes. At 100 TB the
  planner's static stats are wrong often enough that AQE is non-negotiable.
- **Cached plans participate in AQE coalescing by default** (round 7,
  ``canChangeCachedPlanOutputPartitioning=true``) — a persisted
  intermediate no longer pins the pre-coalesce shuffle partition count,
  so every consumer of a cached frame reads it at the AQE-sized
  partitioning instead of paying static-count tiny-task rounds; see the
  inline A/B numbers below.
- **UTC session timezone** — event-time windows must be deterministic and
  engine-independent (the DuckDB oracle operates on naive timestamps).
- **Arrow enabled** — the few pandas-UDF paths (drift KS, multimodal decode)
  move columnar batches, never rows.
- **Explicit broadcast hints** for genuinely-small dimensions only; we do NOT
  crank ``autoBroadcastJoinThreshold`` because at 100 TB a "small" side
  estimated from stale stats can OOM an executor — AQE's runtime sizes are
  the safer signal.
- **`file:` I/O forks no processes** — pip-installed PySpark ships no
  ``libhadoop``, so Hadoop's stock local filesystem sets permission bits by
  running ``chmod`` as a child process, on every file create and every
  ``mkdirs``: about 200 forks of the driver JVM (3.7 ms each from a 2 GiB
  heap, against 0.09 ms in-process) for one ``upsert_latest`` onto a
  64-bucket view (measured when every view had 64 buckets; a view now has
  one per core). ``jvm/SpawnFreeLocalFileSystem`` (jar on the
  driver classpath, installed as ``fs.file.impl`` and, for the
  ``FileContext`` path of streaming checkpoints and state stores,
  ``fs.AbstractFileSystem.file.impl``) sets the same mode bits in-process
  and is otherwise Hadoop's own class, ``.crc`` checksums included. Other
  schemes (hdfs:, s3a:) are untouched. On a cluster the executors need the
  jar on their classpath too (``spark.executor.extraClassPath``), or
  ``configs`` can put Hadoop's classes back for the two keys.
- **File-source listing stays on the driver** — Spark lists more than
  ``parallelPartitionDiscovery.threshold`` (default 32) paths in a Spark
  job of one task per path, and a live micro-batch hands the file source
  44–70 new files. Resolving N parquet paths on ``local[4]`` (min of 3):

  ===========================  ====  =====  =====  ======
  N paths                        64    256   1024    4096
  listing job (ms)              791   1456   4767   16005
  on the driver (ms)             61    119    237     670
  ===========================  ====  =====  =====  ======

  (a 1024-partition dir: 3726 ms as a job, 224 ms on the driver). In local
  mode the job never wins, so the threshold is ``Int.MaxValue``. A cluster
  listing object storage should go back to Spark's default (pass it in
  ``configs``), where the listing job spreads slow remote calls over
  executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "streaming-feature-store-spark"
HEAP_CAP_MB = 16 * 1024
HEAP_SHARE = 0.6
# The spawn-free `file:` filesystem (jvm/SpawnFreeLocalFileSystem.java).
LOCAL_FS = "streaming_feature_store_spark.jvm.SpawnFreeLocalFileSystem"
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "spawn-free-localfs.jar"
)


def default_cpus() -> int:
    """Parallelism used for local runs: ``$SPARK_GRAFT_CPUS``, else the
    CPUs this process may run on (its affinity mask, not the host's count)."""
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        if hasattr(os, "sched_getaffinity"):
            return len(os.sched_getaffinity(0))
        return os.cpu_count() or 1


def driver_heap(mem_total_mb: int) -> tuple[str, str]:
    """``(spark.driver.memory, spark.driver.extraJavaOptions)`` for a host
    with ``mem_total_mb`` of physical memory.

    local mode runs driver+executor in ONE JVM; 8g left ~250 MB/task at 32
    threads and GC-thrashed long catalog runs, while an unpinned 32g heap
    produced rare tens-of-seconds full-GC pauses mid-query (measured: same
    query 2s or 23s run-to-run). 16g PINNED (-Xms=-Xmx, no resize) with G1
    region sizing is the stable point, so the heap is 16g where that is at
    most HEAP_SHARE of memory. A smaller host gets HEAP_SHARE of its memory
    and no -Xms: pre-committing most of a small host's RAM leaves too
    little for the Python workers and the OS. On a real cluster this is
    per-executor sizing.
    """
    heap_mb = min(HEAP_CAP_MB, int(mem_total_mb * HEAP_SHARE))
    opts = "-XX:+UseG1GC -XX:G1HeapRegionSize=16m"
    if heap_mb == HEAP_CAP_MB:
        opts = f"-Xms{heap_mb}m {opts}"
    return f"{heap_mb}m", opts


def _mem_total_mb() -> int:
    """Physical memory (``MemTotal`` of /proc/meminfo on Linux)."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local cpu count; on a real cluster
    pass ≈ 2-3× total executor cores (or leave AQE to coalesce down from a
    higher number — coalescing is cheap, splitting is not).
    """
    cpus = default_cpus()
    heap, java_opts = driver_heap(_mem_total_mb())
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", str(cpus))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The test corpus is written with nanosecond parquet timestamps
        # (TIMESTAMP(NANOS)), which vanilla Spark refuses; read them as long
        # nanos and convert in the source layer (sources/file.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MB input splits: at 100 TB that is ~800k tasks — fine for a big
        # cluster; AQE coalesces the small tail.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", heap))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", java_opts),
        )
    )
    # Opt-in connector packages (e.g. the spark-avro jar):
    #   SPARK_GRAFT_EXTRA_PACKAGES="org.apache.spark:spark-avro_2.13:4.1.2"
    # Resolved from Maven at session start where the environment has network
    # access; offline, the Avro column codec stays import-gated and its jar
    # test skips (tests/test_avro.py).
    extra_pkgs = os.environ.get("SPARK_GRAFT_EXTRA_PACKAGES", "")
    if extra_pkgs:
        builder = builder.config("spark.jars.packages", extra_pkgs)
    # DEFAULT (round 7): let AQE coalesce CACHED plan output. Without
    # this, InMemoryRelation pins the pre-AQE shuffle partition count
    # and every consumer of a persisted intermediate pays
    # static-partition tiny-task rounds. Measured A/B (min of 3,
    # PERFORMANCE.md "Round-7"): sf0.1 q101 2.05s->1.15s, q119
    # 4.32s->2.78s, q67 3.00s->2.44s; sf1.0 q119 5.09s->4.86s, q39
    # 6.51s->5.43s, rest within noise — faster than the r6 baseline on
    # every probed query at both scales, with no knob. Trade-off: a
    # cached plan's output partitioning is no longer a stable contract
    # for downstream exchange reuse, which Spark handles by inserting a
    # (cheap, AQE-sized) shuffle when a consumer genuinely needs a
    # specific partitioning.
    builder = builder.config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    # Local-file I/O spawns no processes and runs no listing jobs (module
    # docstring): the jar's `file:` filesystems set permission bits
    # in-process, and file-source listing stays on the driver.
    builder = (
        builder.config("spark.hadoop.fs.file.impl", LOCAL_FS)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", f"{LOCAL_FS}$Fs")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    configs = dict(configs or {})
    cp = configs.pop("spark.driver.extraClassPath", None)
    builder = builder.config(
        "spark.driver.extraClassPath", os.pathsep.join(p for p in (cp, LOCAL_FS_JAR) if p)
    )
    for k, v in configs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
