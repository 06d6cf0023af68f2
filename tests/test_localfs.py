"""The spawn-free ``file:`` filesystem that ``session.get_spark`` installs
(``streaming_feature_store_spark/jvm/SpawnFreeLocalFileSystem.java``): it
is the session's filesystem on both Hadoop APIs, it keeps the stock local
filesystem's semantics, a stream micro-batch forks no ``chmod``, and the
committed jar is its source's build."""

import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pyspark
import pytest
from py4j.protocol import Py4JJavaError

from streaming_feature_store_spark.session import LOCAL_FS, LOCAL_FS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA_SRC = os.path.join(os.path.dirname(LOCAL_FS_JAR), "SpawnFreeLocalFileSystem.java")


def _hadoop_conf(spark, **overrides):
    conf = spark.sparkContext._jvm.org.apache.hadoop.conf.Configuration(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    for k, v in overrides.items():
        conf.set(k, v)
    return conf


def test_session_file_filesystems_are_the_shim(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == LOCAL_FS
    assert fs.getRaw().getClass().getName() == f"{LOCAL_FS}$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == f"{LOCAL_FS}$Fs"


class _FsApi:
    """File operations through ``FileSystem`` (what Spark's file sources
    and parquet writers use)."""

    def __init__(self, spark, conf):
        jvm = spark.sparkContext._jvm
        self.jvm = jvm
        uri = jvm.java.net.URI("file:///")
        self.fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)

    def impl(self):
        return self.fs.getClass().getName()

    def perm(self, mode):
        return self.jvm.org.apache.hadoop.fs.permission.FsPermission(self.jvm.java.lang.Short(mode))

    def path(self, p):
        return self.jvm.org.apache.hadoop.fs.Path(p)

    def create(self, p, data):
        out = self.fs.create(self.path(p))
        out.write(bytearray(data))
        out.close()

    def mkdir(self, p):
        assert self.fs.mkdirs(self.path(p))

    def set_permission(self, p, mode):
        self.fs.setPermission(self.path(p), self.perm(mode))

    def permission(self, p):
        return self.fs.getFileStatus(self.path(p)).getPermission().toShort() & 0o7777

    def read_first_byte(self, p):
        # open(path) on a FileContext skips ChecksumFs (FilterFs forwards
        # it to the raw fs); open(path, bufferSize) is the checked read
        stream = self.fs.open(self.path(p), 4096)
        try:
            return stream.read()
        finally:
            stream.close()


class _FileContextApi(_FsApi):
    """File operations through ``FileContext`` (what streaming checkpoints
    and state-store deltas use)."""

    def __init__(self, spark, conf):
        jvm = spark.sparkContext._jvm
        self.jvm = jvm
        self.gateway = spark.sparkContext._gateway
        uri = jvm.java.net.URI("file:///")
        self.fs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)

    def impl(self):
        return self.fs.getDefaultFileSystem().getClass().getName()

    def create(self, p, data):
        fs_pkg = self.jvm.org.apache.hadoop.fs
        flags = self.jvm.java.util.EnumSet.of(fs_pkg.CreateFlag.CREATE)
        opts = self.gateway.new_array(fs_pkg.Options.CreateOpts, 0)
        out = self.fs.create(self.path(p), flags, opts)
        out.write(bytearray(data))
        out.close()

    def mkdir(self, p):
        dir_default = self.jvm.org.apache.hadoop.fs.permission.FsPermission.getDirDefault()
        self.fs.mkdir(self.path(p), dir_default, True)


def _observe(api, root):
    """What a caller of ``api`` sees under ``root``: the modes new files and
    dirs get, whether a ``.crc`` is written, explicit modes read back by the
    OS and by Hadoop, and what reading a corrupted file raises."""
    os.makedirs(root)
    seen = {}
    api.create(f"{root}/f.bin", b"x" * 2000)
    api.mkdir(f"{root}/d/e")
    seen["modes"] = {n: os.stat(f"{root}/{n}").st_mode for n in ("f.bin", "d", "d/e")}
    seen["crc"] = os.path.exists(f"{root}/.f.bin.crc")
    seen["explicit"] = {}
    for mode in (0o700, 0o644, 0o1777):
        for n in ("f.bin", "d"):
            path = f"{root}/{n}"
            api.set_permission(path, mode)
            seen["explicit"][(mode, n)] = (os.stat(path).st_mode & 0o7777, api.permission(path))
    api.set_permission(f"{root}/f.bin", 0o644)
    with open(f"{root}/f.bin", "r+b") as f:
        f.write(b"y")
    with pytest.raises(Py4JJavaError) as err:
        api.read_first_byte(f"{root}/f.bin")
    seen["corrupt_read"] = err.value.java_exception.getClass().getName()
    return seen


@pytest.mark.parametrize("api", [_FsApi, _FileContextApi], ids=["FileSystem", "FileContext"])
def test_shim_keeps_hadoop_semantics(spark, tmp_path, api):
    """Under the same (non-default) umask, the shim and Hadoop's stock local
    filesystem give the same modes, explicit modes (sticky bit included)
    read back exactly, ``.crc`` files are written and a flipped byte still
    fails its checksum."""
    stock = {
        "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
        "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
    }
    umask = {"fs.permissions.umask-mode": "027"}
    shim_api = api(spark, _hadoop_conf(spark, **umask))
    stock_api = api(spark, _hadoop_conf(spark, **umask, **stock))
    assert shim_api.impl().startswith(LOCAL_FS)
    assert stock_api.impl().startswith("org.apache.hadoop.fs.")
    shim = _observe(shim_api, str(tmp_path / "shim"))
    ref = _observe(stock_api, str(tmp_path / "stock"))
    assert shim == ref
    assert shim["modes"]["f.bin"] & 0o7777 == 0o640 and shim["modes"]["d"] & 0o7777 == 0o750
    assert all(got == (mode, mode) for (mode, _), got in shim["explicit"].items())
    assert shim["crc"]
    assert shim["corrupt_read"] == "org.apache.hadoop.fs.ChecksumException"
    assert os.path.exists(tmp_path / "shim" / "f.bin")


_SPAWN_PROBE = textwrap.dedent(
    """
    import datetime as dt, os, sys
    sys.path.insert(0, os.getcwd())
    from streaming_feature_store_spark.session import get_spark
    from streaming_feature_store_spark.streaming.pipeline import (
        read_file_stream, start_feature_pipeline, windowed_features)
    from streaming_feature_store_spark.streaming.sinks import upsert_latest
    from tests.test_streaming import BASE, SCHEMA

    root = sys.argv[1]
    latest, log, src = (os.path.join(root, n) for n in ("latest", "log", "src"))
    spark = get_spark("spawn-probe", master="local[2]", shuffle_partitions=2)
    seed = spark.createDataFrame([(u, u, BASE, 1.0, "view") for u in range(1000)], SCHEMA)
    upsert_latest(spark, windowed_features(seed), latest, ["user_id"])
    later = BASE + dt.timedelta(minutes=10)
    rows = [(u, u, later, 2.0, "click") for u in range(300)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    q = start_feature_pipeline(spark, read_file_stream(spark, src, SCHEMA), latest, log,
                               checkpoint=os.path.join(root, "ckpt"))
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    print(len([d for d in os.listdir(latest) if d.startswith("_bucket=")]))
    spark.stop()
    """
)


def test_stream_micro_batch_spawns_no_chmod(tmp_path):
    """A session from ``get_spark`` upserts onto a view (2 buckets, its
    ``local[2]`` parallelism) and runs one ``start_feature_pipeline``
    micro-batch without forking ``chmod`` (Hadoop's stock local filesystem
    forks one per file and dir written: about 470 for this run onto 64
    buckets)."""
    real = shutil.which("chmod")
    assert real
    wrappers, calls = tmp_path / "bin", tmp_path / "chmod.calls"
    wrappers.mkdir()
    (wrappers / "chmod").write_text(f'#!/bin/sh\necho "$*" >> "{calls}"\nexec {real} "$@"\n')
    os.chmod(wrappers / "chmod", 0o755)
    env = dict(
        os.environ,
        PATH=f"{wrappers}{os.pathsep}{os.environ.get('PATH', '')}",
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    env.pop("SPARK_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SPAWN_PROBE, str(tmp_path / "run")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-1] == "2"
    spawned = calls.read_text().splitlines() if calls.exists() else []
    assert spawned == [], f"{len(spawned)} chmod processes, first: {spawned[:3]}"


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac (a JRE runs the committed jar)")
def test_jar_is_its_source_build(tmp_path):
    """The committed jar holds exactly the classes its Java source compiles
    to, with the build command in the source's header."""
    hadoop = os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-3.4.2.jar")
    with open(JAVA_SRC) as f:
        assert "javac --release 17" in f.read()
    out = tmp_path / "classes"
    subprocess.run(
        ["javac", "--release", "17", "-cp", hadoop, "-d", str(out), JAVA_SRC],
        check=True, capture_output=True, timeout=300,
    )
    built = {
        os.path.relpath(os.path.join(d, n), out): open(os.path.join(d, n), "rb").read()
        for d, _, names in os.walk(out)
        for n in names
    }
    with zipfile.ZipFile(LOCAL_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if not n.endswith("/")}
    assert committed == built
