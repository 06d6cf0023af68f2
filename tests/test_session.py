"""Session sizing rules and defaults, checked without a JVM."""

import os

from streaming_feature_store_spark import session
from streaming_feature_store_spark.session import HEAP_CAP_MB, default_cpus, driver_heap


def test_default_cpus_follows_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert default_cpus() == 7
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "seven")
    assert default_cpus() == 3


def test_driver_heap_is_capped_share_of_memory_and_pinned_only_when_it_fits():
    # a 15.7 GB host: 60 % of memory, not pre-committed
    heap, opts = driver_heap(16093)
    assert heap == "9655m" and "-Xms" not in opts
    # a host where the 16g cap is at most 60 % of memory: pinned -Xms = -Xmx
    heap, opts = driver_heap(64 * 1024)
    assert heap == f"{HEAP_CAP_MB}m" and opts.startswith(f"-Xms{HEAP_CAP_MB}m ")
    assert driver_heap(HEAP_CAP_MB * 10 // 6 + 1)[0] == f"{HEAP_CAP_MB}m"
    assert "-Xms" not in driver_heap(HEAP_CAP_MB * 10 // 6 - 2)[1]
    for _, o in (driver_heap(16093), driver_heap(64 * 1024)):
        assert "-XX:+UseG1GC" in o


def test_get_spark_adds_local_file_defaults_after_callers_classpath(monkeypatch):
    """The spawn-free filesystem's jar is appended to a caller's driver
    classpath, and a caller's ``configs`` still override the defaults."""
    monkeypatch.setattr(session.SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    opts = session.get_spark(configs={"spark.driver.extraClassPath": "extra.jar", threshold: "32"})
    assert opts["spark.driver.extraClassPath"] == os.pathsep.join(["extra.jar", session.LOCAL_FS_JAR])
    assert opts["spark.hadoop.fs.file.impl"] == session.LOCAL_FS
    assert opts["spark.hadoop.fs.AbstractFileSystem.file.impl"] == f"{session.LOCAL_FS}$Fs"
    assert opts[threshold] == "32"
    assert session.get_spark()[threshold] == str(2**31 - 1)
    assert os.path.isfile(session.LOCAL_FS_JAR)
