"""The ``commit`` module's rule on every multi-part write: a crash between
two sub-writes leaves readers on the previous version, and a rerun
converges to a clean run. Plus the rule's resolve and sweep on a root
holding snapshots and deltas."""

import os
import random

import pyspark.sql.functions as F
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from streaming_feature_store_spark import commit


class Crash(Exception):
    pass


def _canon(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_DAY1 = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "spark shuffles data across the cluster every night"),
    (3, "window functions rank rows within partitions"),
]
_DAY2 = [
    (10, "the quick brown fox jumps over the lazy dog"),  # recrawl of 1
    (11, "parquet files carry their schema in the footer"),
    (12, "a committed version is visible to every reader"),
]


def _writes_to(suffix):
    """Crash a Spark parquet write whose path ends with ``suffix``."""
    return DataFrameWriter, "parquet", lambda _w, path, *a, **k: path.endswith(suffix)


def _text_to(suffix):
    """Crash a ``commit.write_text`` whose path ends with ``suffix``."""
    return commit, "write_text", lambda path, *a, **k: path.endswith(suffix)


def _sink_case(spark):
    from streaming_feature_store_spark.streaming.dedup import (
        fingerprint_index_sink,
    )

    def run(root, rows, batch_id):
        fingerprint_index_sink(f"{root}/idx", f"{root}/side")(
            _docs(spark, rows), batch_id
        )

    def read(root):
        return _canon(commit.read_newest(f"{root}/idx", spark.read.parquet))

    return dict(
        setup=lambda root: run(root, _DAY1, 0),
        step=lambda root: run(root, _DAY2, 1),
        crash=_writes_to("/idx/v=2"),  # after the side output
        read=read,
        full=lambda root: (read(root), _canon(spark.read.parquet(f"{root}/side"))),
    )


def _state_reader(spark):
    from streaming_feature_store_spark.operators.curation import _ingest_state
    from streaming_feature_store_spark.streaming.dedup import read_index_log

    def read(root):
        roots, v = _ingest_state(root)
        return {k: _canon(read_index_log(spark, r, v)) for k, r in roots.items()}

    return read


def _ingest_case(spark):
    from streaming_feature_store_spark.operators.curation import daily_ingest

    return dict(
        setup=lambda root: daily_ingest(_docs(spark, _DAY1), root, bigrams=False),
        step=lambda root: daily_ingest(_docs(spark, _DAY2), root, bigrams=False),
        # postings is written after the other three roots committed day 2
        crash=_writes_to("/postings/d=2"),
        read=_state_reader(spark),
    )


def _erase_case(spark):
    from streaming_feature_store_spark.operators.curation import (
        daily_erase,
        daily_ingest,
    )

    docs = _docs(spark, _DAY1 + _DAY2[1:])
    erased = docs.filter(F.col("doc_id") % 2 == 1)
    return dict(
        setup=lambda root: daily_ingest(
            docs, root, bigrams=False, screen_near_dups=False
        ),
        step=lambda root: daily_erase(
            erased, root, corpus=docs.filter(F.col("doc_id") % 2 == 0)
        ),
        crash=_writes_to("/stats/v=2"),
        read=_state_reader(spark),
    )


def _compact_case(spark):
    from streaming_feature_store_spark.streaming.dedup import (
        append_log_delta,
        compact_index_log,
        read_index_log,
    )

    def setup(root):
        append_log_delta(_docs(spark, _DAY1), root, 1)
        append_log_delta(_docs(spark, _DAY2), root, 2)

    def read(root):
        return _canon(read_index_log(spark, root))

    return dict(
        setup=setup,
        step=lambda root: compact_index_log(spark, root),
        crash=(commit, "sweep", lambda *a, **k: True),  # after the snapshot
        read=read,
        full=lambda root: (read(root), sorted(os.listdir(root))),
    )


def _vecs(spark, n, seed, offset=0):
    rng = random.Random(seed)
    rows = [
        (offset + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ivf_case(spark):
    from streaming_feature_store_spark.operators.similarity import (
        ivf_topk_persisted,
        save_ivf_index,
    )

    a, b = _vecs(spark, 24, seed=1), _vecs(spark, 24, seed=2, offset=100)
    queries = _vecs(spark, 4, seed=3, offset=1000)
    return dict(
        setup=lambda root: save_ivf_index(a, root, nlist=4),
        step=lambda root: save_ivf_index(b, root, nlist=4),
        crash=_writes_to("/cells"),  # after the centroids
        read=lambda root: _canon(
            ivf_topk_persisted(spark, root, queries, k=2, nprobe=2)
        ),
    )


def _bundle_case(crash, tagged=True):
    def make(spark):
        from streaming_feature_store_spark.ml.training import (
            TrainConfig,
            build_pipeline,
            export_model_bundle,
            load_model_bundle,
            score,
        )

        df = spark.range(200).select(
            F.col("id"),
            (F.rand(1) * 10).alias("f1"),
            (F.rand(2) * 5).alias("f2"),
        )
        cfg = TrainConfig(feature_cols=["f1", "f2"], algorithm="lr")
        pipe = build_pipeline(cfg)
        model_a = pipe.fit(df.withColumn("label", (F.col("f1") > 5).cast("int")))
        model_b = pipe.fit(df.withColumn("label", (F.col("f2") > 2).cast("int")))

        def read(root):
            model, manifest = load_model_bundle(spark, root)
            if not tagged:
                manifest.pop("version")
            return manifest, _canon(score(model, df).select("id", "score"))

        return dict(
            setup=lambda root: export_model_bundle(
                model_a, root, cfg, metrics={"auc": 0.1}
            ),
            step=lambda root: export_model_bundle(
                model_b, root, cfg, metrics={"auc": 0.2}
            ),
            crash=crash,
            read=read,
        )

    return make


_CASES = {
    "snapshot_sink_side_then_index": _sink_case,
    "daily_ingest_roots": _ingest_case,
    "compaction_snapshot_then_sweep": _compact_case,
    "daily_erase_roots": _erase_case,
    "save_ivf_index_centroids_then_cells": _ivf_case,
    "model_bundle_model_then_manifest": _bundle_case(_text_to("manifest.json")),
    "model_bundle_manifest_then_commit": _bundle_case(_text_to(commit.MARKER)),
    # the crashed export stays committed but unpromoted, so the rerun
    # commits the next version: its bundle equals a clean run's but for the tag
    "model_bundle_commit_then_latest": _bundle_case(_text_to("LATEST"), tagged=False),
}


@pytest.mark.parametrize("name", list(_CASES))
def test_crash_between_sub_writes(spark, tmp_path, monkeypatch, name):
    case = _CASES[name](spark)
    full = case.get("full", case["read"])
    root, clean = str(tmp_path / "root"), str(tmp_path / "clean")
    case["setup"](root)
    before, before_full = case["read"](root), full(root)

    owner, attr, hit = case["crash"]
    real = getattr(owner, attr)

    def crashing(*args, **kwargs):
        if hit(*args, **kwargs):
            raise Crash(attr)
        return real(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(owner, attr, crashing)
        with pytest.raises(Crash):
            case["step"](root)
    assert case["read"](root) == before

    case["step"](root)
    case["setup"](clean)
    case["step"](clean)
    assert full(root) == full(clean) != before_full


# --- resolve and sweep on one root (no JVM) ---------------------------------


def _stage(root, names, torn=()):
    for name in names:
        os.makedirs(os.path.join(root, name))
        with open(os.path.join(root, name, "part-0.parquet"), "w"):
            pass
        if name not in torn:
            with open(os.path.join(root, name, commit.MARKER), "w"):
                pass


def test_read_newest_is_snapshot_then_later_deltas(tmp_path):
    root = str(tmp_path)
    _stage(root, ["d=1", "d=2", "v=2", "d=3", "d=4"], torn={"d=4"})
    dirs = lambda upto=None: [  # noqa: E731
        os.path.basename(d) for d in commit.read_newest(root, lambda *d: d, upto)
    ]
    assert commit.newest(root) == 3
    assert dirs() == ["v=2", "d=3"]
    assert dirs(2) == ["v=2"]
    assert dirs(1) == ["d=1"]
    assert commit.read_newest(root, lambda *d: d, 0) is None


def test_sweep_drops_what_kept_snapshots_subsume(tmp_path):
    root = str(tmp_path)
    _stage(
        root,
        ["v=1", "d=2", "d=3", "v=3", "d=4", "d=5", "d=6"],
        torn={"d=2", "d=6"},
    )
    # keeps v=3 and its later deltas; the torn d=6 above the newest
    # committed version may be a writer mid-commit
    assert commit.sweep(root, keep_last=1) == [1, 2, 3]
    assert sorted(os.listdir(root)) == ["d=4", "d=5", "d=6", "v=3"]
    # a log with no committed snapshot is left whole
    assert commit.sweep(str(tmp_path / "absent")) == []


def test_commit_version_hides_a_rewrite_until_its_marker(tmp_path):
    vdir = str(tmp_path / "v=1")
    part = lambda: commit.write_text(f"{vdir}/part", "x")  # noqa: E731
    commit.commit_version(vdir, part)
    assert commit.newest(str(tmp_path)) == 1

    def crash():
        raise Crash()

    # a rerun of the committed version is invisible until it completes
    with pytest.raises(Crash):
        commit.commit_version(vdir, part, crash)
    with pytest.warns(UserWarning, match=commit.MARKER):
        assert commit.newest(str(tmp_path)) is None
    assert sorted(os.listdir(vdir)) == ["part"]


# --- read_index_log errors --------------------------------------------------


def test_read_index_log_raises_on_unreadable_committed_delta(spark, tmp_path):
    """A committed ``d=1`` whose only file is not parquet is a read error,
    not an empty index (an empty index would reseed the state as day 0)."""
    from streaming_feature_store_spark.streaming.dedup import read_index_log

    d = tmp_path / "log" / "d=1"
    d.mkdir(parents=True)
    (d / "part-00000.parquet").write_bytes(b"not a parquet file")
    (d / commit.MARKER).write_bytes(b"")
    with pytest.raises(Exception, match="(?i)parquet"):
        read_index_log(spark, str(tmp_path / "log"))


def test_read_index_log_empty_versions(spark, tmp_path):
    """A committed 0-row write keeps a schema-carrying data file and reads
    as 0 rows; a committed dir with no data file reads as None."""
    from streaming_feature_store_spark.streaming.dedup import (
        append_log_delta,
        read_index_log,
    )

    root = str(tmp_path / "log")
    append_log_delta(_docs(spark, _DAY1).limit(0), root, 1)
    assert read_index_log(spark, root).count() == 0
    marker_only = tmp_path / "log2" / "d=1"
    marker_only.mkdir(parents=True)
    (marker_only / commit.MARKER).write_bytes(b"")
    assert read_index_log(spark, str(tmp_path / "log2")) is None
