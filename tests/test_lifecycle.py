"""SURVEY §3 lifecycle in ONE path at sf0.01: registry views →
materialize (latest + log) → get_online (freshness) → get_historical
(PIT as-of training frame) → stratified split → train → evaluate →
score. The reference spreads this across Feast + Redis + training
scripts; here every stage resolves through the same engine."""

import pytest
import datetime as dt

import pyspark.sql.functions as F

from streaming_feature_store_spark.ml.training import (
    TrainConfig,
    build_pipeline,
    evaluate,
    score,
    stratified_split,
)
from streaming_feature_store_spark.registry import default_registry
from streaming_feature_store_spark.store import (
    get_historical,
    get_online,
    materialize,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.slow
def test_full_lifecycle(spark, tmp_path):
    from streaming_feature_store_spark.sources.file import load_table

    ev = load_table(spark, SF_DIR, "events")

    reg = default_registry()

    # 1. materialize BOTH default views over the same raw events
    paths = {}
    for vname in ("transaction_stats_5m", "user_engagement_session"):
        view = reg.views[vname]
        latest = str(tmp_path / f"{vname}_latest")
        log = str(tmp_path / f"{vname}_log")
        materialize(spark, view, ev, latest, log)
        paths[vname] = (latest, log)

    # 2. online serving with freshness
    keys = ev.select("user_id").distinct().limit(5)
    cut = ev.agg(F.max("ts")).first()[0] + dt.timedelta(minutes=5)
    served = get_online(
        spark,
        paths["transaction_stats_5m"][0],
        keys,
        "user_id",
        now_s=int(cut.timestamp()),
    )
    rows = served.collect()
    assert len(rows) == 5
    assert all(r["freshness_s"] is not None and r["freshness_s"] >= 300 for r in rows)

    # 3. PIT training frame: label per user at its LAST event time; the
    # as-of join may only see strictly-past feature windows
    feature_log = spark.read.parquet(paths["transaction_stats_5m"][1]).withColumn(
        "f_us", F.col("window_start_s").cast("long") * 1_000_000
    ).withColumn("_tb", F.lit(0))
    labels = (
        ev.groupBy("user_id")
        .agg(F.unix_micros(F.max("ts")).alias("l_us"))
        .withColumn("y", F.lit(0))  # placeholder; real label derived below
        .withColumn("_tb", F.lit(1))
    )
    frame = get_historical(
        labels,
        feature_log.select("user_id", "f_us", "_tb", "event_count", "value_sum", "value_max"),
        "user_id",
        "l_us",
        "f_us",
        ["event_count", "value_sum", "value_max"],
        ["y"],
        "_tb",
    )
    # wiring test, not a modeling benchmark: the label is a deterministic
    # rule over the SERVED point-in-time features (value_sum above its
    # median), so a correct PIT join + pipeline must reach near-perfect AUC
    # — a leaky or misaligned join would not
    train_df = frame.select(
        "user_id",
        F.col("asof_event_count").cast("double").alias("event_count"),
        F.col("asof_value_sum").alias("value_sum"),
        F.col("asof_value_max").alias("value_max"),
    ).na.fill(0.0)
    med = train_df.approxQuantile("value_sum", [0.5], 0.001)[0]
    train_df = train_df.withColumn(
        "label", (F.col("value_sum") > med).cast("int")
    )
    assert train_df.count() == 150  # one labeled row per user at sf0.01

    # 4. split / train / evaluate / score
    tr, _val, te = stratified_split(train_df, "label", id_cols=["user_id"])
    cfg = TrainConfig(feature_cols=["event_count", "value_sum", "value_max"], algorithm="lr")
    model = build_pipeline(cfg).fit(tr)
    metrics = evaluate(model, te)
    assert metrics["auc"] > 0.9, metrics  # rule-label over served features
    scored = score(model, te)
    mn, mx = scored.agg(F.min("score"), F.max("score")).first()
    assert 0.0 <= mn <= mx <= 1.0


def test_negative_sample_checkpoint_released(spark):
    """negative_sample's item-index local checkpoint must be released by
    release_checkpoints()/release_all() — checkpoint blocks are invisible
    to DataFrame.unpersist and would otherwise accumulate until JVM GC.
    The always-safe release_cached_intermediates() must NOT touch them
    (ADVICE r6: freeing a checkpoint invalidates its consumers, so the
    "release is always safe" API keeps its historical meaning)."""
    from streaming_feature_store_spark.cacheutil import (
        release_all,
        release_cached_intermediates,
    )
    from streaming_feature_store_spark.operators.curation import (
        negative_sample,
    )

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    release_all()
    before = {i.id() for i in sc.getRDDStorageInfo()}

    inter = spark.createDataFrame(
        [(u, i) for u in range(20) for i in (u, u + 1, u + 2)],
        "user_id long, item_id long",
    )
    items = spark.range(200).select(F.col("id").alias("item_id"))
    out = negative_sample(inter, items, k=3)
    assert out.count() == 20 * 3
    during = {i.id() for i in sc.getRDDStorageInfo()} - before
    assert during, "expected the checkpointed index to occupy storage"
    # persist-only release leaves the checkpoint (and its consumer) alive
    release_cached_intermediates()
    still = {i.id() for i in sc.getRDDStorageInfo()} - before
    assert still, "persist-only release must not free checkpoint blocks"
    assert out.count() == 20 * 3  # frame still consumable
    released = release_all()
    assert released >= 1
    after = {i.id() for i in sc.getRDDStorageInfo()} - before
    assert not after, f"checkpoint blocks leaked: {after}"


def test_checkpoint_tracking_does_not_steal_caller_caches(spark):
    """Tracking must not claim a caller's cold cache that the eager
    checkpoint job happens to materialize — releasing must leave the
    caller's persisted frame cached."""
    from streaming_feature_store_spark.cacheutil import (
        local_checkpoint_tracked,
        release_all,
    )

    spark.catalog.clearCache()
    release_all()
    items = spark.range(5000).selectExpr("id", "id * 7 as w").cache()
    # cold: no action yet — the checkpoint job below materializes it
    ck = local_checkpoint_tracked(items.selectExpr("id", "w + 1 as w2"))
    assert ck.count() == 5000
    assert items.storageLevel.useMemory  # caller cache registered
    released = release_all()
    assert released >= 1
    # the caller's cache must still hold blocks (not silently freed)
    sc = spark.sparkContext._jsc.sc()
    names = [i.name() for i in sc.getRDDStorageInfo()]
    assert any("Project" in (n or "") or "Range" in (n or "") for n in names), names
    items.unpersist()


def test_concurrent_checkpoint_tracking_is_serialized(spark):
    """Concurrent tracked checkpoints from other driver threads (the
    streaming foreachBatch pattern) must each register their own RDD and
    no other: N concurrent calls register exactly N checkpoint ids, every
    frame stays consumable until release, and release frees them all."""
    from concurrent.futures import ThreadPoolExecutor

    from streaming_feature_store_spark.cacheutil import (
        local_checkpoint_tracked,
        release_all,
    )

    spark.catalog.clearCache()
    release_all()
    sc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in sc.getRDDStorageInfo()}

    def work(i):
        ck = local_checkpoint_tracked(
            spark.range(1000 + i).selectExpr("id", "id * 2 as w")
        )
        assert ck.count() == 1000 + i
        return ck

    with ThreadPoolExecutor(max_workers=8) as ex:
        frames = list(ex.map(work, range(16)))
    # every checkpoint-backed frame is still alive pre-release
    for i, f in enumerate(frames):
        assert f.count() == 1000 + i
    released = release_all()
    assert released == 16, released
    after = {i.id() for i in sc.getRDDStorageInfo()} - before
    assert not after, f"leaked checkpoint blocks: {after}"


def test_rolling_checkpoints_leave_one_rdd(spark):
    """``pagerank`` and ``dedup_clusters``' distributed path free every
    superseded checkpoint as they go (the dedup edges' too), so each
    leaves exactly one RDD cached, its result's checkpoint, and
    ``release_all()`` frees that one."""
    from streaming_feature_store_spark.cacheutil import release_all
    from streaming_feature_store_spark.operators.dedup import dedup_clusters
    from streaming_feature_store_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    release_all()
    sc = spark.sparkContext._jsc.sc()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(10, 11)], "src long, dst long"
    )
    runs = {
        "pagerank": lambda: pagerank(edges, iterations=3),
        "dedup_clusters": lambda: dedup_clusters(
            edges.toDF("doc_a", "doc_b"), driver_threshold=0
        ),
    }
    for name, run in runs.items():
        before = {i.id() for i in sc.getRDDStorageInfo()}
        out = run()
        assert out.count() == 9, name
        held = [i.name() for i in sc.getRDDStorageInfo() if i.id() not in before]
        assert held == ["MapPartitionsRDD"], (name, held)
        assert release_all() == 1, name
        after = [i.id() for i in sc.getRDDStorageInfo() if i.id() not in before]
        assert not after, (name, after)
