"""ML pipeline tests (training/test_ml_pipeline.py analog): synthetic
dataset → impute/outlier/split/pipeline/train/evaluate/score across
algorithms; interpretation ladders (inference/test_inference.py:212-218)."""

import pyspark.sql.functions as F
import pytest

from streaming_feature_store_spark.functions.interpret import (
    fill_defaults,
    interpret_fraud,
    interpret_user,
)
from streaming_feature_store_spark.ml.training import (
    TrainConfig,
    build_pipeline,
    evaluate,
    impute_median,
    impute_mode,
    remove_outliers,
    score,
    stratified_split,
)


def _dataset(spark, n=2000):
    # separable synthetic task: label depends on f1 + noise
    return spark.range(n).select(
        F.col("id"),
        (F.rand(1) * 10).alias("f1"),
        (F.rand(2) * 5).alias("f2"),
        F.when(F.rand(3) < 0.05, None).otherwise(F.rand(4)).alias("f3"),
    ).withColumn("label", (F.col("f1") + F.rand(5) > 6).cast("int"))


def _mixed_dataset(spark, n=2000):
    """Numeric + categorical (mcc-like) features; the categorical carries
    real signal so encoding it matters, with ~5 % nulls for impute_mode."""
    base = _dataset(spark, n)
    mcc = F.when(F.col("label") == 1, F.lit("5967")).otherwise(
        F.when(F.rand(7) < 0.5, F.lit("5411")).otherwise(F.lit("5812"))
    )
    return base.withColumn(
        "mcc", F.when(F.rand(8) < 0.05, None).otherwise(mcc)
    ).withColumn("currency", F.when(F.rand(9) < 0.3, "EUR").otherwise("USD"))


def test_impute_and_outliers(spark):
    df = _dataset(spark)
    imp = impute_median(df, ["f3"])
    assert imp.filter(F.col("f3").isNull()).count() == 0
    filtered = remove_outliers(imp, ["f1"], label_col="label", k=3.0)
    assert filtered.count() <= imp.count()


def test_stratified_split_deterministic(spark):
    df = _dataset(spark)
    a = [d.count() for d in stratified_split(df, "label")]
    b = [d.count() for d in stratified_split(df, "label")]
    assert a == b and sum(a) == df.count()
    assert a[0] > a[1] and a[0] > a[2]


def test_stratified_split_per_class_fractions(spark):
    """M4 contract: split fractions hold WITHIN each label class, and the
    assignment is stable under feature-column edits (hash covers id+label
    only)."""
    df = _mixed_dataset(spark, 4000)
    parts = stratified_split(df, "label", id_cols=["id"])
    n_pos = df.filter(F.col("label") == 1).count()
    n_neg = df.filter(F.col("label") == 0).count()
    for part, frac in zip(parts, (0.6, 0.2, 0.2)):
        pos = part.filter(F.col("label") == 1).count()
        neg = part.filter(F.col("label") == 0).count()
        # binomial concentration: 3σ ≈ 3·sqrt(f(1−f)/n) — use a loose 25 % rel. band
        assert abs(pos / n_pos - frac) < 0.25 * frac, (pos, n_pos, frac)
        assert abs(neg / n_neg - frac) < 0.25 * frac, (neg, n_neg, frac)

    # edit a FEATURE column → identical membership (ids per split unchanged)
    edited = df.withColumn("f1", F.col("f1") * 2 + 1)
    ids_a = [sorted(r.id for r in p.select("id").collect()) for p in parts]
    ids_b = [
        sorted(r.id for r in p.select("id").collect())
        for p in stratified_split(edited, "label", id_cols=["id"])
    ]
    assert ids_a == ids_b


def test_impute_mode(spark):
    df = _mixed_dataset(spark)
    out = impute_mode(df, ["mcc"])
    assert out.filter(F.col("mcc").isNull()).count() == 0
    # filled value is the most frequent category of the non-null rows
    top = (
        df.filter(F.col("mcc").isNotNull())
        .groupBy("mcc").count().orderBy(F.desc("count"), F.asc("mcc"))
        .first()["mcc"]
    )
    was_null = df.filter(F.col("mcc").isNull()).count()
    now_top = out.groupBy("mcc").count().where(F.col("mcc") == top).first()["count"]
    before_top = (
        df.groupBy("mcc").count().where(F.col("mcc") == top).first()["count"]
    )
    assert now_top == before_top + was_null


def test_impute_mode_single_pass(spark):
    """The melt-based impute_mode runs a FIXED number of Spark jobs no
    matter how many columns it fills (the old form paid one collect per
    column), and fills multiple mixed-type columns correctly in that pass."""
    df = _mixed_dataset(spark).withColumn(
        "flag", F.when(F.rand(11) < 0.1, None).otherwise(F.col("label") == 1)
    )
    sc = spark.sparkContext

    def jobs_for(cols, group):
        sc.setJobGroup(group, "impute-mode job count")
        out = impute_mode(df, cols)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
        return n, out

    n1, _ = jobs_for(["mcc"], "imp-one")
    n3, out = jobs_for(["mcc", "currency", "flag"], "imp-three")
    assert n3 == n1, f"job count grew with column count: {n1} -> {n3}"
    for c in ("mcc", "currency", "flag"):
        assert out.filter(F.col(c).isNull()).count() == 0
    # bool mode survives the string round-trip
    top_flag = (
        df.filter(F.col("flag").isNotNull())
        .groupBy("flag").count().orderBy(F.desc("count")).first()["flag"]
    )
    was_null = df.filter(F.col("flag").isNull()).count()
    delta = (
        out.filter(F.col("flag") == top_flag).count()
        - df.filter(F.col("flag") == top_flag).count()
    )
    assert delta == was_null


def test_train_with_categoricals(spark):
    """M2+M5 end-to-end: mode-impute a string feature, StringIndexer-encode
    it in the pipeline, train, and verify the categorical carries signal
    (it encodes the label, so AUC must beat numeric-only by a margin)."""
    df = impute_mode(impute_median(_mixed_dataset(spark), ["f3"]), ["mcc"])
    cfg = TrainConfig(
        feature_cols=["f2", "f3", "mcc", "currency"],
        categorical_cols=["mcc", "currency"],
        algorithm="rf",
    )
    train, _, test = stratified_split(df, "label", id_cols=["id"])
    model = build_pipeline(cfg).fit(train)
    metrics = evaluate(model, test)
    assert metrics["auc"] > 0.9, metrics  # mcc alone separates well
    assert "mcc_idx" in metrics["feature_importances"]
    assert metrics["feature_importances"]["mcc_idx"] > 0.3


@pytest.mark.parametrize("algo", ["lr", "rf", "gbt"])
@pytest.mark.slow
def test_train_evaluate_score(spark, algo):
    df = impute_median(_dataset(spark), ["f3"])
    cfg = TrainConfig(feature_cols=["f1", "f2", "f3"], algorithm=algo)
    train, val, test = stratified_split(df, "label")
    model = build_pipeline(cfg).fit(train)
    metrics = evaluate(model, test)
    assert 0.8 < metrics["auc"] <= 1.0       # separable task → strong AUC
    scored = score(model, test)
    r = scored.agg(F.min("score"), F.max("score"), F.min("confidence")).collect()[0]
    assert 0.0 <= r[0] and r[1] <= 1.0 and r[2] >= 0.0


def test_interpretation_ladders(spark):
    df = spark.createDataFrame(
        [(0.8,), (0.5,), (0.2,), (0.05,)], "score double"
    ).withColumn("is_high_value", F.lit(False))
    out = {r["score"]: r for r in interpret_fraud(df).collect()}
    assert out[0.8]["risk_level"] == "critical" and out[0.8]["action"] == "block"
    assert out[0.5]["risk_level"] == "high" and out[0.5]["action"] == "review"
    assert out[0.2]["risk_level"] == "medium"
    assert out[0.05]["risk_level"] == "low" and out[0.05]["action"] == "allow"

    seg = interpret_user(
        spark.createDataFrame([(0.9,), (0.1,)], "engagement_score double")
    ).collect()
    assert {r["segment"] for r in seg} == {"power_user", "dormant"}


def test_fill_defaults(spark):
    df = spark.createDataFrame(
        [(None, float("nan")), (1.0, 2.0)], "a double, b double"
    )
    out = fill_defaults(df, {"a": 0.0, "b": -1.0, "c": 9.9}).collect()
    vals = {(r["a"], r["b"], r["c"]) for r in out}
    assert (0.0, -1.0, 9.9) in vals and (1.0, 2.0, 9.9) in vals


@pytest.mark.slow
def test_cross_validate_and_persistence(spark, tmp_path):
    from streaming_feature_store_spark.ml.training import (
        cross_validate,
        load_model,
        save_model,
    )

    df = impute_median(_dataset(spark, 1200), ["f3"])
    cfg = TrainConfig(feature_cols=["f1", "f2", "f3"], algorithm="lr")
    result = cross_validate(df, cfg, num_folds=3)
    assert 0.8 < result["cv_auc"] <= 1.0

    path = str(tmp_path / "model")
    save_model(result["model"], path)
    reloaded = load_model(spark, path)
    a = score(result["model"], df).select("score").limit(5).collect()
    b = score(reloaded, df).select("score").limit(5).collect()
    assert a == b


def test_model_bundle_roundtrip(spark, tmp_path):
    """M9 tail: versioned export bundle — manifest carries the scoring
    contract, versions auto-increment, LATEST promotes (or not), and the
    reloaded model scores identically to the in-memory one."""
    from streaming_feature_store_spark.ml.training import (
        export_model_bundle,
        load_model_bundle,
    )

    df = _dataset(spark, 500)
    cfg = TrainConfig(feature_cols=["f1", "f2"], algorithm="lr")
    model = build_pipeline(cfg).fit(df)
    reg = str(tmp_path / "registry")

    v1 = export_model_bundle(model, reg, cfg, metrics={"auc": 0.9})
    assert v1 == "v1"
    v2 = export_model_bundle(model, reg, cfg, promote=False)
    assert v2 == "v2"

    loaded, manifest = load_model_bundle(spark, reg)   # LATEST -> v1
    assert manifest["version"] == "v1"
    assert manifest["metrics"] == {"auc": 0.9}
    assert manifest["feature_names"] == ["f1", "f2"]
    want = {r["id"]: r["score"] for r in score(model, df).select("id", "score").collect()}
    got = {r["id"]: r["score"] for r in score(loaded, df).select("id", "score").collect()}
    assert got == want

    _, m2 = load_model_bundle(spark, reg, version="v2")  # explicit pin
    assert m2["version"] == "v2"


def test_model_bundle_after_observation(spark, tmp_path):
    """A session that has used an ``Observation`` (``watermarks.
    with_observation``) still exports, reloads and scores a model whose
    training summary holds the session. Spark 4.1.2 cannot serialize that
    session into a task (``NotSerializableException: ObservationManager``),
    so a transform of the fitted model failed until ``score`` and
    ``evaluate`` dropped the summary first; the export itself never
    serialized it."""
    from streaming_feature_store_spark.ml.training import (
        export_model_bundle,
        load_model_bundle,
    )
    from streaming_feature_store_spark.streaming.watermarks import (
        with_observation,
    )

    df = _dataset(spark, 300)
    observed, obs = with_observation(df, "bundle_rows", {"n": F.count(F.lit(1))})
    cfg = TrainConfig(feature_cols=["f1", "f2"], algorithm="lr")
    model = build_pipeline(cfg).fit(observed)
    assert obs.get["n"] == 300
    assert model.stages[-1].hasSummary
    reg = str(tmp_path / "registry")
    assert export_model_bundle(model, reg, cfg) == "v1"
    loaded, manifest = load_model_bundle(spark, reg)
    assert manifest["feature_names"] == ["f1", "f2"]
    want = score(model, df).select("id", "score").collect()
    assert score(loaded, df).select("id", "score").collect() == want


def test_cross_validate_after_observation(spark):
    """``cross_validate`` in a session that has used an ``Observation``:
    its fold models and best model are fitted through a pipeline that
    drops each stage's training summary, so the evaluator's transform
    (and a caller's own ``transform`` of the best model) never serializes
    the session (``NotSerializableException: ObservationManager``)."""
    from streaming_feature_store_spark.ml.training import cross_validate
    from streaming_feature_store_spark.streaming.watermarks import (
        with_observation,
    )

    df = _dataset(spark, 300)
    observed, obs = with_observation(df, "cv_rows", {"n": F.count(F.lit(1))})
    assert observed.count() == 300
    assert obs.get["n"] == 300
    cfg = TrainConfig(feature_cols=["f1", "f2"], algorithm="lr")
    result = cross_validate(df, cfg, num_folds=2)
    assert 0.8 < result["cv_auc"] <= 1.0
    assert result["model"].transform(df).count() == 300


def test_train_with_hashed_categoricals(spark):
    """encoder="hash": the FeatureHasher path must carry the categorical's
    signal without any fitted label map (stateless hashing trick), and the
    pipeline must contain no StringIndexer stage."""
    from pyspark.ml.feature import FeatureHasher, StringIndexer

    df = impute_mode(impute_median(_mixed_dataset(spark), ["f3"]), ["mcc"])
    cfg = TrainConfig(
        feature_cols=["f2", "f3", "mcc", "currency"],
        categorical_cols=["mcc", "currency"],
        algorithm="rf",
        encoder="hash",
        hash_dim=64,
    )
    train, _, test = stratified_split(df, "label", id_cols=["id"])
    pipe = build_pipeline(cfg)
    kinds = [type(s) for s in pipe.getStages()]
    assert FeatureHasher in kinds and StringIndexer not in kinds
    model = pipe.fit(train)
    metrics = evaluate(model, test)
    assert metrics["auc"] > 0.9, metrics


def test_fit_per_group_linear_matches_numpy(spark):
    """Per-group normal-equation fits must match numpy lstsq per group,
    with the degenerate cases (too-few rows, singular design) yielding
    null coefficients instead of failures."""
    import numpy as np

    from streaming_feature_store_spark.ml.training import (
        fit_per_group_linear,
    )

    rng = np.random.default_rng(11)
    rows = []
    truth = {"a": (1.5, [2.0, -0.5]), "b": (-3.0, [0.0, 4.0])}
    for g, (b0, (b1, b2)) in truth.items():
        for _ in range(60):
            x1, x2 = rng.uniform(-5, 5), rng.uniform(-5, 5)
            noise = rng.normal(0, 0.01)
            rows.append((g, b0 + b1 * x1 + b2 * x2 + noise, x1, x2))
    rows.append(("tiny", 1.0, 1.0, 1.0))  # below min_rows
    # singular: x2 duplicates x1 exactly
    for i in range(10):
        rows.append(("sing", float(i), float(i), float(i)))

    df = spark.createDataFrame(rows, "g string, y double, x1 double, x2 double")
    out = {
        r["g"]: r
        for r in fit_per_group_linear(df, "g", "y", ["x1", "x2"]).collect()
    }
    for g, (b0, bs) in truth.items():
        r = out[g]
        assert abs(r["intercept"] - b0) < 0.01
        assert all(abs(a - b) < 0.01 for a, b in zip(r["coefficients"], bs))
        assert r["r2"] > 0.999
        assert r["n_rows"] == 60
    assert out["tiny"]["coefficients"] is None
    # exactly-duplicated feature -> singular normal equations at l2=0
    assert out["sing"]["coefficients"] is None
    ridge = {
        r["g"]: r
        for r in fit_per_group_linear(
            df, "g", "y", ["x1", "x2"], l2=1.0
        ).collect()
    }
    assert ridge["sing"]["coefficients"] is not None
    assert ridge["sing"]["r2"] > 0.99


def test_fit_per_group_linear_preserves_group_dtype(spark):
    import numpy as np

    from streaming_feature_store_spark.ml.training import (
        fit_per_group_linear,
    )

    rng = np.random.default_rng(3)
    rows = [
        (gid, float(2.0 * x + 1.0 + rng.normal(0, 0.01)), float(x))
        for gid in (10, 2**53 + 7)
        for x in rng.uniform(-3, 3, 30)
    ]
    df = spark.createDataFrame(rows, "store_id long, y double, x double")
    out = fit_per_group_linear(df, "store_id", "y", ["x"])
    assert dict(out.dtypes)["store_id"] == "bigint"
    got = {r["store_id"]: r for r in out.collect()}
    # the >2^53 key survives exactly (a string/double coercion would not)
    assert set(got) == {10, 2**53 + 7}
    for r in got.values():
        assert abs(r["coefficients"][0] - 2.0) < 0.01
