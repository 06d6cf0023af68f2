"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) with a driver heap sized from the host's memory
(``driver_heap``); the same configs are what we would ship to a
1000-executor cluster, where only ``spark.sql.shuffle.partitions`` (≈ 2-3×
total cores) and memory sizing change.

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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "streaming-feature-store-spark"
HEAP_CAP_MB = 16 * 1024
HEAP_SHARE = 0.6


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
    # Opt-in connector packages (e.g. spark-avro, delta-spark jars):
    #   SPARK_GRAFT_EXTRA_PACKAGES="org.apache.spark:spark-avro_2.13:4.1.2"
    # Resolved from Maven at session start where the environment has network
    # access; this rig is offline, so the Avro/Delta paths stay import-gated
    # and their tests skip (see tests/test_avro.py, test_sinks_metrics.py).
    extra_pkgs = os.environ.get("SPARK_GRAFT_EXTRA_PACKAGES", "")
    if extra_pkgs:
        builder = builder.config("spark.jars.packages", extra_pkgs)
    # AQE initial-partition headroom stays an ENV OVERRIDE, factor 1 by
    # default: the round-7 clean A/B (tools/aqe_ab_probe.py, reps=3 min,
    # /tmp/aqe_ab_sf{01,1_clean}.jsonl) showed the r6 "factor 4 fixes
    # the sf1.0 dedup spill tail" finding was mostly one-shot stall
    # noise — under clean measurement factor 4 is neutral on the dedup
    # family and REGRESSES q119 ~2x at sf1.0 (5.1s -> 9.9s: 128 initial
    # partitions quadruple the task rounds of every stage AQE cannot
    # coalesce, e.g. post-cache window stages). The real lever is
    # cached-plan coalescing below, which wins on its own at BOTH
    # scales. Set SPARK_GRAFT_AQE_INITIAL_FACTOR>1 only for genuinely
    # skew-bound deployments where oversized partitions spill before
    # AQE can split them.
    try:
        aqe_factor = int(os.environ.get("SPARK_GRAFT_AQE_INITIAL_FACTOR", "1"))
    except ValueError:
        aqe_factor = 1
    if aqe_factor > 1:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle * aqe_factor),
        )
    # DEFAULT (round 7): let AQE coalesce CACHED plan output. Without
    # this, InMemoryRelation pins the pre-AQE shuffle partition count
    # and every consumer of a persisted intermediate pays
    # static-partition tiny-task rounds. Measured A/B (min of 3,
    # tools/aqe_ab_probe.py): sf0.1 q101 2.05s->1.15s, q119
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
    for k, v in (configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
