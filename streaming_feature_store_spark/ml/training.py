"""ML training/scoring pipeline (SURVEY.md §2.7 M1-M9, M15).

Reference parity, re-expressed on MLlib:
- M1 dataset assembly: select feature columns + label from the feature table
  (training/datasets.py:44-83).
- M2 imputation: numeric→median via pyspark.ml Imputer; categorical→mode via
  StringIndexer's handleInvalid='keep' (datasets.py:162-169).
- M3 outlier removal: k×IQR filter from approxQuantile, with the reference's
  fraud-preservation guard — skip a filter that would drop >50 % of positive
  rows (datasets.py:175-214).
- M4 stratified split: sampleBy on the label with fixed seed
  (datasets.py:220-246, seed 42).
- M5 scale/encode: VectorAssembler + StandardScaler (datasets.py:248-286).
- M6-M8 train/evaluate: GBTClassifier (XGBoost analog) / RandomForest /
  LogisticRegression; AUC + precision/recall/F1 + confusion matrix
  (models.py:44-230).
- M9 persistence: pipeline.save/load (MLflow/ONNX plumbing is an explicit
  non-goal — SURVEY.md §7).
- M15 scoring: model.transform + probability extraction + confidence =
  |p − 0.5|·2 (inference/models.py:77-228).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from streaming_feature_store_spark import commit


@dataclass
class TrainConfig:
    label_col: str = "label"
    feature_cols: list[str] = field(default_factory=list)
    categorical_cols: list[str] = field(default_factory=list)
    algorithm: str = "gbt"  # gbt | rf | lr
    seed: int = 42
    iqr_k: float = 3.0
    outlier_cols: list[str] = field(default_factory=list)
    splits: tuple[float, float, float] = (0.6, 0.2, 0.2)
    encoder: str = "index"  # index (StringIndexer) | hash (FeatureHasher)
    hash_dim: int = 256


def impute_median(df: DataFrame, cols: list[str]) -> DataFrame:
    """M2: median imputation for numeric features."""
    from pyspark.ml.feature import Imputer

    out_cols = [f"{c}__imp" for c in cols]
    model = Imputer(inputCols=cols, outputCols=out_cols, strategy="median").fit(df)
    out = model.transform(df)
    for c, oc in zip(cols, out_cols):
        out = out.drop(c).withColumnRenamed(oc, c)
    return out


def impute_mode(df: DataFrame, cols: list[str]) -> DataFrame:
    """M2 categorical/bool branch: fill nulls with the column mode
    (datasets.py:165-169's ``fillna(mode()[0])``). Booleans fall back to
    False when the column is entirely null, mirroring the reference.

    SINGLE-PASS over all columns: melt to (column, value) via one
    explode(array(struct...)), aggregate counts grouped by (column, value)
    — map-side partials keep the shuffle at distinct-categories size —
    and take the per-column top-1 with one tiny row_number window. One
    Spark job total regardless of schema width (the earlier per-column
    collect loop paid one job per categorical — quadratic-ish driver
    overhead on wide schemas). Ties break deterministically by the value's
    string form; values round-trip through strings in the melt, which is
    lossless for the categorical/bool/int columns this branch serves."""
    if not cols:
        return df
    melted = [
        F.struct(F.lit(c).alias("colname"), F.col(c).cast("string").alias("val"))
        for c in cols
    ]
    w = Window.partitionBy("colname").orderBy(F.desc("n"), F.asc("val"))
    top = (
        df.select(F.explode(F.array(*melted)).alias("p"))
        .select("p.colname", "p.val")
        .filter(F.col("val").isNotNull())
        .groupBy("colname", "val")
        .agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    )
    modes = {r["colname"]: r["val"] for r in top}
    fills: dict[str, object] = {}
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        if c in modes:
            v = modes[c]
            if dt == "boolean":
                fills[c] = v == "true"
            elif dt in ("tinyint", "smallint", "int", "bigint"):
                fills[c] = int(v)
            elif dt in ("float", "double"):
                fills[c] = float(v)
            else:
                fills[c] = v
        elif dt == "boolean":
            fills[c] = False
        # all-null non-bool column: nothing sensible to fill
    return df.fillna(fills) if fills else df


def remove_outliers(
    df: DataFrame,
    cols: list[str],
    label_col: str | None = None,
    k: float = 3.0,
) -> DataFrame:
    """M3: k×IQR outlier filter with the fraud-preservation guard
    (datasets.py:175-214): a per-column filter is skipped if it would drop
    more than half of the positive-label rows."""
    out = df
    for c in cols:
        q1, q3 = out.approxQuantile(c, [0.25, 0.75], 0.001)
        lo, hi = q1 - k * (q3 - q1), q3 + k * (q3 - q1)
        cond = (F.col(c) >= lo) & (F.col(c) <= hi)
        if label_col is not None:
            pos = out.filter(F.col(label_col) == 1)
            n_pos = pos.count()
            if n_pos > 0 and pos.filter(cond).count() < 0.5 * n_pos:
                continue  # guard: keep the fraud signal
        out = out.filter(cond)
    return out


def stratified_split(
    df: DataFrame,
    label_col: str,
    splits=(0.6, 0.2, 0.2),
    seed: int = 42,
    id_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """M4: train/val/test stratified on the label (datasets.py:220-246's
    two-stage ``train_test_split(stratify=y)``), via salted hashing over
    the IDENTITY columns + label only:

    - the uniform variate u = hash(id…, label, seed) is independent across
      rows WITHIN each label stratum, so per-class split fractions
      concentrate around (train, val, test) — the stratification guarantee;
    - hashing only id+label (never feature columns) makes the assignment
      STABLE under feature edits: recomputing a feature moves no row
      between splits;
    - no shuffle at all — a filter per split, embarrassingly parallel,
      unlike an exact per-class rank split which would hash-partition by
      label (2 partitions for binary labels — a straggler at scale).

    ``id_cols=None`` falls back to hashing all non-label columns (the only
    identity available without a declared key), which keeps determinism but
    not edit-stability; pass the primary key for the documented contract.
    """
    train_f, val_f, _ = splits
    key_cols = id_cols if id_cols else [c for c in df.columns if c != label_col]
    u = (
        F.abs(
            F.xxhash64(
                F.concat_ws(
                    "§",
                    *[F.col(c).cast("string") for c in key_cols],
                    F.col(label_col).cast("string"),
                ),
                F.lit(seed),
            )
        )
        % 1_000_000
        / 1_000_000.0
    )
    d = df.withColumn("_u", u)
    train = d.filter(F.col("_u") < train_f).drop("_u")
    val = d.filter((F.col("_u") >= train_f) & (F.col("_u") < train_f + val_f)).drop("_u")
    test = d.filter(F.col("_u") >= train_f + val_f).drop("_u")
    return train, val, test


def build_pipeline(cfg: TrainConfig):
    """M5+M6: [StringIndexer →] assembler → scaler → classifier as one
    pyspark.ml Pipeline. Categorical/string features in
    ``cfg.categorical_cols`` are label-encoded by a single multi-column
    StringIndexer (frequency order, ``handleInvalid='keep'`` so unseen
    categories at scoring time map to an 'unknown' index instead of
    failing) — the Spark form of the reference's LabelEncoder pass
    (datasets.py:275-286); booleans are cast up by the assembler.

    ``cfg.encoder="hash"`` swaps the StringIndexer for the hashing trick
    (FeatureHasher → ``hash_dim`` sparse one-hot buckets): STATELESS, so
    no full distinct pass over each categorical and no driver-held label
    map — the right encoder when categorical cardinality is web-scale
    (user ids, domains). Trade-off is hash collisions (bounded by
    hash_dim) and the loss of per-category importances."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import (
        GBTClassifier,
        LogisticRegression,
        RandomForestClassifier,
    )
    from pyspark.ml.feature import (
        FeatureHasher,
        StandardScaler,
        StringIndexer,
        VectorAssembler,
    )

    stages = []
    numeric = [c for c in cfg.feature_cols if c not in cfg.categorical_cols]
    assembled = list(numeric)
    if cfg.categorical_cols and cfg.encoder == "hash":
        stages.append(
            FeatureHasher(
                inputCols=cfg.categorical_cols,
                outputCol="cat_hash",
                numFeatures=cfg.hash_dim,
            )
        )
        assembled.append("cat_hash")
    elif cfg.categorical_cols:
        idx_cols = [f"{c}_idx" for c in cfg.categorical_cols]
        stages.append(
            StringIndexer(
                inputCols=cfg.categorical_cols,
                outputCols=idx_cols,
                handleInvalid="keep",
                stringOrderType="frequencyDesc",
            )
        )
        assembled += idx_cols
    assembler = VectorAssembler(
        inputCols=assembled, outputCol="features_raw", handleInvalid="keep"
    )
    scaler = StandardScaler(inputCol="features_raw", outputCol="features")
    if cfg.algorithm == "gbt":
        clf = GBTClassifier(labelCol=cfg.label_col, featuresCol="features", seed=cfg.seed, maxIter=20)
    elif cfg.algorithm == "rf":
        clf = RandomForestClassifier(labelCol=cfg.label_col, featuresCol="features", seed=cfg.seed, numTrees=50)
    elif cfg.algorithm == "lr":
        clf = LogisticRegression(labelCol=cfg.label_col, featuresCol="features", maxIter=50)
    else:
        raise ValueError(f"unknown algorithm {cfg.algorithm!r}")
    return Pipeline(stages=[*stages, assembler, scaler, clf])


def _drop_summaries(model, spark) -> None:
    """Drop each stage's training summary, in place. A summary holds the
    training frame's session, and once that session has used an
    ``Observation`` (``watermarks.with_observation``), Spark 4.1.2 cannot
    serialize it into a task: ``NotSerializableException:
    ObservationManager``. Nothing here reads a summary."""
    for stage in model.stages:
        if getattr(stage, "hasSummary", False):
            stage._java_obj.setSummary(spark._jvm.scala.Option.empty())


def _transform(model, df: DataFrame) -> DataFrame:
    """``model.transform(df)`` after ``_drop_summaries``."""
    _drop_summaries(model, df.sparkSession)
    return model.transform(df)


def evaluate(model, df: DataFrame, label_col: str = "label") -> dict:
    """M8: AUC, precision/recall/F1 and the confusion matrix — matrix via
    one groupBy over (prediction, label), the distributed form of the
    reference's counter loop (fraud_detector.py:184-205)."""
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    pred = _transform(model, df)
    auc = BinaryClassificationEvaluator(labelCol=label_col, metricName="areaUnderROC").evaluate(pred)
    f1 = MulticlassClassificationEvaluator(labelCol=label_col, metricName="f1").evaluate(pred)
    cm = {
        (int(r["prediction"]), int(r[label_col])): r["count"]
        for r in pred.groupBy("prediction", label_col).count().collect()
    }
    tp = cm.get((1, 1), 0); fp = cm.get((1, 0), 0)
    fn = cm.get((0, 1), 0); tn = cm.get((0, 0), 0)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    out = {
        "auc": auc, "f1": f1, "precision": precision, "recall": recall,
        "confusion": {"tp": tp, "fp": fp, "fn": fn, "tn": tn},
    }
    # feature importances (tree models) keyed by input name (M8 —
    # models.py:213-230 logs the same map)
    from pyspark.ml.feature import VectorAssembler

    clf = model.stages[-1]
    assembler = next(
        s for s in model.stages if isinstance(s, VectorAssembler)
    )
    if hasattr(clf, "featureImportances"):
        out["feature_importances"] = dict(
            zip(assembler.getInputCols(), clf.featureImportances.toArray().tolist())
        )
    return out


def score(model, df: DataFrame) -> DataFrame:
    """M15: batch scoring with probability + confidence columns."""
    from pyspark.ml.functions import vector_to_array

    pred = _transform(model, df)
    p1 = vector_to_array(F.col("probability")).getItem(1)
    return pred.withColumn("score", p1).withColumn(
        "confidence", F.abs(p1 - 0.5) * 2
    )


def cross_validate(
    df: DataFrame, cfg: TrainConfig, num_folds: int = 3, parallelism: int = 4
) -> dict:
    """M7: k-fold CV over the pipeline (StratifiedKFold analog —
    models.py:139-156). Returns mean AUC across folds; folds run in
    parallel on the cluster via CrossValidator's parallelism knob."""
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    class _SummaryFreePipeline(Pipeline):
        # the evaluator transforms every fold model: drop the summaries
        # at fit, as ``_transform`` does before a transform
        def _fit(self, dataset):
            model = super()._fit(dataset)
            _drop_summaries(model, dataset.sparkSession)
            return model

    cv = CrossValidator(
        estimator=_SummaryFreePipeline(stages=build_pipeline(cfg).getStages()),
        estimatorParamMaps=ParamGridBuilder().build(),
        evaluator=BinaryClassificationEvaluator(
            labelCol=cfg.label_col, metricName="areaUnderROC"
        ),
        numFolds=num_folds,
        parallelism=parallelism,
        seed=cfg.seed,
    )
    model = cv.fit(df)
    return {"cv_auc": float(model.avgMetrics[0]), "model": model.bestModel}


def save_model(model, path: str) -> None:
    """M9: persist the fitted pipeline (feature order travels inside the
    assembler stage — no separate feature_names.json needed)."""
    model.write().overwrite().save(path)


def load_model(spark, path: str):
    from pyspark.ml import PipelineModel

    return PipelineModel.load(path)


def export_model_bundle(
    model,
    path: str,
    cfg: TrainConfig,
    metrics: dict | None = None,
    promote: bool = True,
) -> str:
    """M9 tail: the reference's model artifact bundle + registry semantics
    (training/models.py:232-304 writes model.pkl, feature_names.json and a
    metadata dict, then models.py:353-380 registers/promotes in MLflow)
    restated Spark-native, no external services:

    - ``{path}/v=<N>/model/``         — the fitted PipelineModel (Spark save)
    - ``{path}/v=<N>/manifest.json``  — feature names IN SCORING ORDER,
      categorical subset, algorithm, label column, metrics — everything a
      serving job needs to validate its input frame against the bundle
    - ``{path}/LATEST``               — registry "production" pointer;
      ``promote=False`` writes the version without moving the pointer (the
      staging-area half of the reference's stage promotion)

    Version ``N`` (tag ``vN``) is the next after the newest committed one
    and is committed by the ``commit`` module's rule once its model and
    manifest are on disk; ``LATEST`` moves only after that, by tmp +
    rename. A crash anywhere leaves ``LATEST`` on the previous bundle, and
    a rerun after a crash before the commit rewrites the same version.
    Returns the new version tag. ONNX and the MLflow transport itself stay
    explicit non-goals (SURVEY §7) — this is the capability (versioned,
    self-describing, promotable artifacts), not the wire format."""
    import json

    n = (commit.newest(path) or 0) + 1
    version = f"v{n}"
    vdir = os.path.join(path, f"v={n}")
    numeric = [c for c in cfg.feature_cols if c not in cfg.categorical_cols]
    manifest = {
        "version": version,
        "algorithm": cfg.algorithm,
        "label_col": cfg.label_col,
        "feature_names": numeric
        + [f"{c}_idx" for c in cfg.categorical_cols],
        "input_cols": list(cfg.feature_cols),
        "categorical_cols": list(cfg.categorical_cols),
        "metrics": metrics or {},
    }
    commit.commit_version(
        vdir,
        lambda: save_model(model, os.path.join(vdir, "model")),
        lambda: commit.write_text(
            os.path.join(vdir, "manifest.json"),
            json.dumps(manifest, indent=2, sort_keys=True),
        ),
    )
    if promote:
        commit.write_text(os.path.join(path, "LATEST"), version)
    return version


def load_model_bundle(spark, path: str, version: str | None = None):
    """Load a bundle written by ``export_model_bundle``: the promoted
    (``LATEST``) version by default, or an explicit pin. Returns
    (PipelineModel, manifest dict). Raises for a version that is not
    committed."""
    import json

    if version is None:
        with open(os.path.join(path, "LATEST")) as f:
            version = f.read().strip()
    n = int(version.removeprefix("v"))
    if commit.newest(path, n) != n:
        raise FileNotFoundError(f"{path}: model bundle {version} is not committed")
    vdir = os.path.join(path, f"v={n}")
    with open(os.path.join(vdir, "manifest.json")) as f:
        manifest = json.load(f)
    return load_model(spark, os.path.join(vdir, "model")), manifest


def fit_per_group_linear(
    df: DataFrame,
    group_col: str,
    label_col: str,
    feature_cols: list[str],
    l2: float = 0.0,
    min_rows: int = 2,
) -> DataFrame:
    """Many-small-models training: an independent (ridge-regularized)
    linear regression PER GROUP, fit distributed — one model per
    store/region/segment is the standard shape when a global model
    underfits heterogeneous populations and per-group data fits in one
    task (the complement of M6's one global MLlib model).

    Plan: ``applyInPandas`` groups by ``group_col``; each group solves
    the normal equations (X'X + l2·I)β = X'y with numpy in one Arrow
    batch — no MLlib, no per-group Spark jobs, no driver loop.  Output:
    one row per group with intercept, coefficients (aligned with
    ``feature_cols``), n_rows and R².  Groups below ``min_rows`` (or
    with a singular system at l2=0) emit null coefficients rather than
    failing the stage.

    Scale shape: cost is one shuffle on the group key; each task is an
    O(n·d²) solve. Skewed group sizes behave like any grouped
    aggregation (AQE skew split does not apply to applyInPandas — for a
    pathological mega-group, pre-aggregate the moments instead, as
    q147 does in pure SQL for the d=1 case).
    """
    import numpy as np
    import pandas as pd

    d = len(feature_cols)
    # the group column keeps its INPUT type (a bigint store_id must not
    # come back stringified — joining coefficients back on a coerced key
    # silently collides above 2^53)
    gtype = df.schema[group_col].dataType.simpleString()
    schema = (
        f"{group_col} {gtype}, n_rows long, intercept double, "
        "coefficients array<double>, r2 double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group_col].iloc[0]
        y = pdf[label_col].to_numpy(dtype=np.float64)
        X = np.column_stack(
            [np.ones(len(pdf))]
            + [pdf[c].to_numpy(dtype=np.float64) for c in feature_cols]
        )
        row = {
            group_col: [g],
            "n_rows": [len(pdf)],
            "intercept": [None],
            "coefficients": [None],
            "r2": [None],
        }
        if len(pdf) >= min_rows:
            A = X.T @ X
            if l2 > 0:
                reg = l2 * np.eye(d + 1)
                reg[0, 0] = 0.0  # never regularize the intercept
                A = A + reg
            try:
                beta = np.linalg.solve(A, X.T @ y)
            except np.linalg.LinAlgError:
                beta = None
            if beta is not None and np.all(np.isfinite(beta)):
                resid = y - X @ beta
                ss_res = float(resid @ resid)
                ss_tot = float(((y - y.mean()) ** 2).sum())
                row["intercept"] = [float(beta[0])]
                row["coefficients"] = [[float(b) for b in beta[1:]]]
                row["r2"] = [
                    1.0 - ss_res / ss_tot if ss_tot > 0 else None
                ]
        return pd.DataFrame(row)

    cols = [group_col, label_col, *feature_cols]
    return (
        df.select(*cols)
        .na.drop(subset=cols)
        .groupBy(group_col)
        .applyInPandas(fit, schema=schema)
    )


def oof_fold(id_col: str | F.Column, n_folds: int) -> F.Column:
    """Deterministic engine-portable fold id in [0, n_folds): the first hex
    digit of md5(id) mapped through its position in '0123456789abcdef'
    (mod n_folds).  No engine-specific hash, no RNG state — the same row
    lands in the same fold in Spark, DuckDB, or any SQL engine, which is
    what makes the q161 oracle (and a resumed training run) reproducible."""
    c = id_col if not isinstance(id_col, str) else F.col(id_col)
    digit = F.substring(F.md5(c.cast("string")), 1, 1)
    return (
        (F.instr(F.lit("0123456789abcdef"), digit) - 1) % n_folds
    ).cast("int")


def target_encode_oof(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
    n_folds: int = 4,
    smoothing: float = 20.0,
    broadcast_encoding: bool = True,
) -> DataFrame:
    """Leakage-safe out-of-fold target encoding for a categorical feature.

    Each row's encoding is the smoothed mean of ``target_col`` over every
    OTHER fold of its category:

        enc = (sum_cat − sum_fold + m · prior) / (cnt_cat − cnt_fold + m)

    with ``prior`` the global target mean — the standard CatBoost/Kaggle
    construction that keeps a row's own label (and its fold's labels) out
    of its feature.  Folds come from ``oof_fold`` (portable md5 digit), so
    the encoding is deterministic across engines and runs.

    Numeric determinism: the per-(category, fold) sums AND the window
    subtraction stay in exact DECIMAL — only the final encoding division
    happens in double (a window SUM of doubles would be
    summation-order-dependent, and with 10⁹-scale totals the ulp noise
    survives a 6 dp round); the caller rounds at the presentation edge.

    Plan shape: one partial-agg shuffle on (category, fold) → a frame with
    |categories|·n_folds rows; category totals come from a window over that
    TINY frame (not the raw data); the encoding joins back to the input on
    (category, fold) under an explicit ``broadcast()`` hint
    (``broadcast_encoding=True``), so the 100 TB fact side never
    reshuffles.  The hint is explicit rather than AQE-delegated because
    the executed plan showed AQE keeping a sort-merge join here (the
    encoding subplan has window/cross-join stages AQE does not re-plan
    through), and the table is bounded by CARDINALITY, not data volume —
    the session policy's "genuinely small" case.  For extreme-cardinality
    categoricals (e.g. per-user target encoding at 10⁸ users) pass
    ``broadcast_encoding=False`` to fall back to a shuffled join.
    """
    with_fold = df.withColumn("_fold", oof_fold(id_col, n_folds))
    per_cf = with_fold.groupBy(cat_col, "_fold").agg(
        F.sum(F.col(target_col).cast("decimal(18,6)")).alias("_s"),
        F.count(target_col).alias("_c"),
    )
    wcat = Window.partitionBy(cat_col)
    enc = per_cf.select(
        cat_col,
        "_fold",
        (F.sum("_s").over(wcat) - F.col("_s")).alias("_s_oof"),
        (F.sum("_c").over(wcat) - F.col("_c")).alias("_c_oof"),
    )
    # global prior from the same exact per-(cat,fold) sums — one tiny agg
    tot = per_cf.agg(
        F.sum("_s").alias("_st"), F.sum("_c").alias("_ct")
    )
    enc = enc.crossJoin(F.broadcast(tot)).select(
        cat_col,
        "_fold",
        (
            (
                F.col("_s_oof").cast("double")
                + F.lit(smoothing)
                * (F.col("_st").cast("double") / F.col("_ct"))
            )
            / (F.col("_c_oof") + F.lit(smoothing))
        ).alias("_enc"),
    )
    if broadcast_encoding:
        enc = F.broadcast(enc)
    return with_fold.join(enc, [cat_col, "_fold"]).withColumnRenamed(
        "_fold", "fold"
    ).withColumnRenamed("_enc", f"{cat_col}_target_enc")


def time_split_embargo(
    df: DataFrame,
    ts_col: str,
    cutoff: str,
    embargo: str = "7 days",
) -> DataFrame:
    """Purged time-series split: train strictly before ``cutoff``, an
    ``embargo`` gap that is EXCLUDED from both sides (rows whose features
    would leak label information across the boundary — the de Prado purge),
    and test after the gap.  Adds a ``split`` column
    ('train' | 'embargo' | 'test'); callers drop the embargo rows.

    Pure codegen row predicate — no shuffle, pushes to the scan when the
    source is partitioned on event time (the layout ``zorder``/date
    partitioning this engine writes)."""
    cut = F.lit(cutoff).cast("timestamp")
    gap_end = cut + F.expr(f"INTERVAL {embargo}")
    c = F.col(ts_col)
    return df.withColumn(
        "split",
        F.when(c < cut, "train")
        .when(c < gap_end, "embargo")
        .otherwise("test"),
    )


def hash_feature_buckets(
    c: str | F.Column, n_buckets: int, salt: str = ""
) -> F.Column:
    """The hashing trick for categorical / crossed features: a stable
    bucket index in [0, n_buckets) from the first 4 hex digits of
    md5(value‖salt) — 16 bits of portable hash, adequate for the
    ≤65 536-bucket tables a hashed-feature layer uses.

    Engine-portable by construction (md5 + hex-digit positions only), so a
    feature built offline in Spark matches one computed at serving time by
    any runtime with md5 — the property that matters for a feature store.
    Unknown categories need no vocabulary: hashing IS the encoder
    (Weinberger et al. 2009).  For Spark-only consumers, swap in
    ``F.xxhash64`` (same shape, ~4× cheaper; see
    ``curation.weighted_sample``'s identical dual-hash policy).
    """
    col = c if not isinstance(c, str) else F.col(c)
    hx = F.substring(
        F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 4
    )
    v = F.lit(0)
    for i in range(4):
        v = v * 16 + (
            F.instr(F.lit("0123456789abcdef"), F.substring(hx, i + 1, 1)) - 1
        )
    return (v % n_buckets).cast("int")


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table: rows ranked by score into ``n_bins``
    equal-count bins (the DISTRIBUTED exact ntile — no single-partition
    sort), then per-bin mean score vs observed positive rate.  A
    well-calibrated scorer has mean_score ≈ pos_rate per bin; the gap is
    what Platt/isotonic recalibration would fix.

    Determinism: bin assignment is the exact NTILE formula over a total
    order (score, id); the per-bin mean is a decimal-exact accumulation of
    the raw double scores (``decimal(28,12)``) divided once, so engines
    agree regardless of summation order; both ratios round once at the
    presentation edge.
    """
    from streaming_feature_store_spark.operators.behavior import (
        distributed_ntile,
    )

    binned = distributed_ntile(
        df.select(
            F.col(id_col), F.col(score_col), F.col(label_col)
        ),
        [F.col(score_col), F.col(id_col)],
        n_bins,
        "bin",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col(label_col).cast("long")).alias("n_pos"),
            F.sum(F.col(score_col).cast("decimal(28,12)")).alias("_ssum"),
        )
        .select(
            "bin",
            "n_rows",
            "n_pos",
            F.round(
                F.col("_ssum").cast("double") / F.col("n_rows"), 6
            ).alias("mean_score"),
            F.round(
                F.col("n_pos") / F.col("n_rows").cast("double"), 6
            ).alias("pos_rate"),
        )
    )


def distributed_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Exact ROC AUC per group via the Mann-Whitney rank-sum identity
    ``AUC = (Σ ranks(positives) − P(P+1)/2) / (P·N)`` with average ranks
    on score ties — bit-identical to sorting every (score, label) pair,
    but computed DISTRIBUTED.

    Why not the obvious window: ``RANK() OVER (PARTITION BY group ORDER BY
    score)`` puts each group's full score column in one task — for a
    global AUC over a 100 TB scored table that is THE single-partition
    sort this engine bans.  Instead the rank decomposes exactly like
    ``behavior.distributed_percent_rank``: one range-partitioned global
    row numbering over (group, score), the per-(group, score) tie-window
    MIN + COUNT (avg rank = min_rank + (ties−1)/2), and a |groups|-bounded
    broadcast of per-group offsets.  Rank sums accumulate as
    DECIMAL(38,1) — exact even when Σranks ~ n²/2 overflows a double's
    53-bit mantissa — so the result is reproducible against the ANSI-SQL
    oracle at any scale.

    Output: (group?, n_pos, n_neg, auc∈[0,1] | null when degenerate).
    """
    from streaming_feature_store_spark.operators.behavior import (
        global_row_number,
    )

    g = group_col
    base = df
    if g is None:
        g = "_g"
        base = base.withColumn(g, F.lit(0))
    base = base.select(
        F.col(g), F.col(score_col).alias("_s"),
        F.col(label_col).cast("long").alias("_y"),
    )
    rn, _ = global_row_number(base, [F.col(g), F.col("_s")], "_rn")
    wv = Window.partitionBy(g, "_s")
    tied = rn.withColumn("_vmin", F.min("_rn").over(wv)).withColumn(
        "_vcnt", F.count("*").over(wv)
    )
    gmin = rn.groupBy(g).agg(F.min("_rn").alias("_gmin"))
    from pyspark.sql.functions import broadcast

    avg_rank = (
        (F.col("_vmin") - F.col("_gmin") + 1)
        + (F.col("_vcnt") - 1) / 2.0
    )
    agg = (
        tied.join(broadcast(gmin), g)
        .select(F.col(g), F.col("_y"), avg_rank.alias("_ar"))
        .groupBy(g)
        .agg(
            F.sum(
                F.when(F.col("_y") == 1, F.col("_ar")).cast("decimal(38,1)")
            ).cast("double").alias("_rpos"),
            F.sum((F.col("_y") == 1).cast("long")).alias("n_pos"),
            F.sum((F.col("_y") == 0).cast("long")).alias("n_neg"),
        )
    )
    p, n = F.col("n_pos"), F.col("n_neg")
    auc = F.when(
        (p > 0) & (n > 0),
        (F.col("_rpos") - p * (p + 1) / 2.0) / (p * n),
    )
    out_cols = ([F.col(g)] if group_col is not None else []) + [
        p, n, F.round(auc, 6).alias("auc"),
    ]
    return agg.select(*out_cols)


def conformal_threshold(
    df: DataFrame,
    group_col: str,
    score_col: str,
    tiebreak_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction threshold per group: the
    ceil((n+1)(1−α))-th smallest calibration score — the
    finite-sample-valid cutoff such that a fresh example's score falls
    below it with probability ≥ 1−α (distribution-free; the guarantee
    behind conformal prediction intervals).  Run per segment/model so
    every serving group gets its own calibrated threshold.

    Exact order statistic, not an approximate quantile: rank via
    row_number over (score, tiebreak) per group plus the group count in
    the same window partitioning (one sort shuffle, Spark reuses the
    sort for both frames), keep the row at rank ceil((n+1)(1−α)) clamped
    to n.  Exactness is what makes the coverage guarantee and the SQL
    oracle hold; the unique ``tiebreak_col`` pins tie order
    cross-engine.  At 100 TB calibration sets are per-group samples
    (thousands of rows), so the per-group sort is small by construction;
    for monster groups swap in approx_percentile and forfeit the
    finite-sample exactness knowingly.
    """
    w = Window.partitionBy(group_col).orderBy(score_col, tiebreak_col)
    wc = Window.partitionBy(group_col)
    ranked = df.select(
        group_col,
        score_col,
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(wc).alias("n_cal"),
    )
    target = F.least(
        F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha)).cast("long"),
        F.col("n_cal"),
    )
    return ranked.filter(F.col("_rk") == target).select(
        group_col,
        "n_cal",
        F.round(F.col(score_col), 6).alias("q_hat"),
    )
