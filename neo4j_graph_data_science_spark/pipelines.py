"""ML pipelines: node classification, node regression, link prediction.

Reference: pipeline/ (NodePropertyTrainingPipeline.java,
LinkPredictionTrainingPipeline.java) and ml/ -- GDS pipelines are
  1. node-property steps (run graph algorithms, mutate properties),
  2. feature selection / link-feature steps (hadamard, l2, cosine),
  3. a train step with a holdout split and model-candidate selection,
  4. a predict surface.

Spark-first mapping: node-property steps are plain operator calls whose
outputs join into one feature DataFrame; feature assembly is
`array<double>` columns concatenated JVM-side; training delegates to
spark.ml estimators (LogisticRegression / RandomForest* / MLP via the
``method`` arg, mirroring ClassifierTrainerFactory.java:79; LinearRegression
/ RandomForestRegressor for regression), which are themselves distributed
-- no driver-side learning loops. Link features are Catalyst expressions over the two
endpoint arrays (zip_with products / differences), so candidate scoring
never leaves the JVM.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import DST, SRC, SparkGraph, register_cache

_FEAT = "features_vec"


# ---- auto-tuning: RandomSearch over the parameter space + k-fold CV --------
# Reference: pipeline/AutoTuningConfig.java:33 (MAX_TRIALS = 10),
# ml/ml-algo/.../automl/RandomSearch.java (concrete candidates always run;
# up to maxTrials draws from the tunable ones; double ranges uniform or
# log-scale, integer ranges uniform), and CrossValidation.java /
# NodeClassificationTrain.java:233 (per-candidate k-fold validation-set
# averaging, best candidate retrained on the full train split and scored
# on the outer holdout).


@dataclass
class AutoTuningConfig:
    """AutoTuningConfig.java:33 -- MAX_TRIALS = 10."""

    max_trials: int = 10


def _is_concrete(cand: dict) -> bool:
    return not any(
        isinstance(v, dict) and ("range" in v or "values" in v)
        for v in cand.values()
    )


def _draw(seed: int, trial: int, token: str) -> float:
    """Deterministic uniform [0,1): md5 over the draw coordinates -- the
    engine-class replacement for the reference's SplittableRandom
    (RandomSearch.java:103-118), as used throughout this repo for serial
    RNG parity-free draws."""
    h = hashlib.md5(f"{seed}:{trial}:{token}".encode()).hexdigest()
    return int(h[:15], 16) / float(1 << 60)


def _materialize(cand: dict, trial: int, seed: int) -> dict:
    """Concretize one tunable candidate (RandomSearch.sample):
    ``{"range": [lo, hi]}`` draws uniform (int range -> nextInt-style
    [lo, hi); add ``"log_scale": True`` for the reference's LogScale
    doubles); ``{"values": [...]}`` picks one; scalars pass through."""
    out = {}
    for k, v in cand.items():
        if isinstance(v, dict) and "values" in v:
            vals = list(v["values"])
            out[k] = vals[int(_draw(seed, trial, k) * len(vals)) % len(vals)]
        elif isinstance(v, dict) and "range" in v:
            lo, hi = v["range"]
            u = _draw(seed, trial, k)
            if v.get("log_scale"):
                lo_l = math.log(max(float(lo), 1e-20))
                out[k] = math.exp(lo_l + u * (math.log(float(hi)) - lo_l))
            elif isinstance(lo, int) and isinstance(hi, int):
                out[k] = lo + int(u * (hi - lo))
            else:
                out[k] = float(lo) + u * (float(hi) - float(lo))
        else:
            out[k] = v
    return out


def random_search(candidates: list[dict], max_trials: int, seed: int):
    """RandomSearch.java trial stream: every concrete candidate exactly
    once, then ``max_trials`` hash-deterministic draws from the tunable
    candidates (none if the space is fully concrete)."""
    concrete = [c for c in candidates if _is_concrete(c)]
    tunable = [c for c in candidates if not _is_concrete(c)]
    for c in concrete:
        yield dict(c)
    for t in range(max_trials if tunable else 0):
        c = tunable[int(_draw(seed, t, "__cand__") * len(tunable))
                    % len(tunable)]
        yield _materialize(c, t, seed)


def _stratified_folds(df: DataFrame, k: int, seed: int,
                      label_col: str, order_cols: list[str]) -> DataFrame:
    """Deterministic stratified k-fold assignment (the reference's
    StratifiedKFoldSplitter): within each label, rows are hash-ordered and
    dealt round-robin into folds, so every fold sees every class."""
    w = Window.partitionBy(label_col).orderBy(
        F.xxhash64(*order_cols, F.lit(seed)))
    return df.withColumn("_fold", (F.row_number().over(w) - 1) % k)


def _cv_select(data: DataFrame, folds: int, trials, fit_fn, score_fn,
               higher_is_better: bool = True):
    """CrossValidation.selectModel: for each trial config, train on k-1
    folds / score on the held-out fold, average; return (best_stats,
    all_stats). ``data`` must carry ``_fold``."""
    data = register_cache(data.persist())
    stats = []
    for cfg in trials:
        scores = []
        for f in range(folds):
            va = data.filter(F.col("_fold") == f)
            if va.isEmpty():
                continue
            m = fit_fn(data.filter(F.col("_fold") != f), cfg)
            scores.append(score_fn(m, va))
        if not scores:
            continue
        stats.append({"config": cfg,
                      "avg_score": sum(scores) / len(scores),
                      "fold_scores": [round(s, 6) for s in scores]})
    if not stats:
        raise ValueError("cross-validation produced no scored candidate "
                         "(all validation folds empty?)")
    best = (max if higher_is_better else min)(
        stats, key=lambda s: s["avg_score"])
    return best, stats


def _assemble(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """Concatenate scalar/array feature columns into one ml Vector column.
    Arrays are spread; scalars cast to double."""
    from pyspark.ml.functions import array_to_vector

    parts = []
    for c in feature_cols:
        dt = dict(df.dtypes)[c]
        if dt.startswith("array"):
            parts.append(F.col(c).cast("array<double>"))
        else:
            parts.append(F.array(F.col(c).cast("double")))
    return df.withColumn(
        _FEAT, array_to_vector(F.flatten(F.array(*parts)))
    )


@dataclass
class _BasePipeline:
    """Shared node-property-step plumbing (pipeline/NodePropertyStep.java)."""

    steps: list[tuple[str, Callable[[SparkGraph], DataFrame]]] = field(
        default_factory=list
    )
    feature_cols: list[str] = field(default_factory=list)
    model_candidates: list[dict] = field(default_factory=list)
    auto_tuning: AutoTuningConfig = field(default_factory=AutoTuningConfig)

    def add_node_property(
        self, name: str, fn: Callable[[SparkGraph], DataFrame]
    ) -> "_BasePipeline":
        """fn(graph) must return (id, <value>) with exactly one value
        column; it is renamed to `name` and joined into the feature table."""
        self.steps.append((name, fn))
        return self

    def add_model_candidate(self, method: str, **params) -> "_BasePipeline":
        """Add one candidate to the training parameter space (the
        reference's addLogisticRegression/addRandomForest/addMLP surface,
        TunableTrainerConfig): scalar params are concrete, ``{"range":
        [lo, hi]}`` / ``{"values": [...]}`` params are tunable and
        sampled by RandomSearch up to auto_tuning.max_trials times."""
        self.model_candidates.append({"method": method, **params})
        return self

    def configure_auto_tuning(self, max_trials: int) -> "_BasePipeline":
        """gds.alpha.pipeline.*.configureAutoTuning analogue."""
        self.auto_tuning = AutoTuningConfig(max_trials=max_trials)
        return self

    def select_features(self, cols: list[str]) -> "_BasePipeline":
        self.feature_cols = list(cols)
        return self

    def _node_features(self, graph: SparkGraph) -> DataFrame:
        out = graph.nodes
        for name, fn in self.steps:
            res = fn(graph)
            val = [c for c in res.columns if c != "id"][0]
            out = out.join(
                res.select("id", F.col(val).alias(name)), "id", "left"
            )
        for name, _ in self.steps:
            dt = dict(out.dtypes)[name]
            if not dt.startswith("array"):
                out = out.fillna(0.0, [name])
        # persisted: the feature frame is referenced several times
        # downstream (train + both endpoint joins of every pair-feature
        # build) and each node-property step above is a full algorithm
        # run -- without the cache those algorithms re-execute per
        # reference
        return register_cache(out.persist())


def _forest_kwargs(p: dict) -> dict:
    """Reference-named tree hyperparameters -> spark.ml kwargs, shared by
    the classifier and regressor factories so the mapping can't drift:
    max_depth, num_trees (numberOfDecisionTrees), min_split_size (->
    minInstancesPerNode, the closest spark.ml knob)."""
    kw = {}
    if "max_depth" in p:
        kw["maxDepth"] = int(p["max_depth"])
    if "num_trees" in p:
        kw["numTrees"] = int(p["num_trees"])
    if "min_split_size" in p:
        kw["minInstancesPerNode"] = int(p["min_split_size"])
    return kw


def _class_count(data: DataFrame) -> int:
    """Label count of a classification frame (labels must be 0..k-1)."""
    return int(data.agg(F.max("label")).collect()[0][0]) + 1


def _make_classifier(method: str, seed: int, data: DataFrame,
                     n_classes: int | None,
                     mlp_hidden_layers: tuple[int, ...] = (16,),
                     params: dict | None = None):
    """The ClassifierTrainerFactory dispatch (ml/ml-algo/.../models/
    ClassifierTrainerFactory.java:79): LogisticRegression / RandomForest /
    MLPClassifier, mapped onto the distributed spark.ml estimators.

    ``n_classes`` sizes the MLP output layer (unused by the others).
    Callers probe it once from the full labelled frame (_class_count): a
    CV training fold can miss the top class, and probing the fold would
    then build an output layer too narrow for the labels it is scored on.

    ``params`` carries candidate hyperparameters under the reference's
    names: penalty (-> regParam), max_epochs (-> maxIter), max_depth,
    num_trees (numberOfDecisionTrees), min_split_size (->
    minInstancesPerNode, the closest spark.ml knob), hidden_layer_sizes."""
    from pyspark.ml.classification import (
        LogisticRegression, MultilayerPerceptronClassifier,
        RandomForestClassifier,
    )

    p = dict(params or {})
    if method == "logistic_regression":
        return LogisticRegression(
            featuresCol=_FEAT, labelCol="label",
            maxIter=int(p.get("max_epochs", 50)),
            regParam=float(p.get("penalty", 0.0)))
    if method == "random_forest":
        return RandomForestClassifier(featuresCol=_FEAT, labelCol="label",
                                      seed=seed, **_forest_kwargs(p))
    if method == "mlp":
        # spark.ml's MLP wants the full layer spec: input width from one row
        hidden = tuple(int(h) for h in p.get("hidden_layer_sizes",
                                             mlp_hidden_layers))
        n_features = len(data.select(_FEAT).first()[_FEAT])
        return MultilayerPerceptronClassifier(
            featuresCol=_FEAT, labelCol="label", seed=seed,
            layers=[n_features, *hidden, max(n_classes, 2)],
            maxIter=int(p.get("max_epochs", 100)),
        )
    raise ValueError(
        f"unknown method {method!r}: expected logistic_regression, "
        "random_forest, or mlp")


class NodeClassificationPipeline(_BasePipeline):
    """gds.beta.pipeline.nodeClassification.* analogue."""

    def train(self, graph: SparkGraph, labels: DataFrame,
              label_col: str = "label", holdout: float = 0.25,
              seed: int = 42, method: str = "logistic_regression",
              mlp_hidden_layers: tuple[int, ...] = (16,),
              validation_folds: int = 3,
              tuning_metric: str = "f1"):
        """labels: (id, label). Returns (model, metrics dict).

        With ``add_model_candidate`` candidates registered, training runs
        the reference's model selection (NodeClassificationTrain.java:233):
        RandomSearch over the parameter space (up to
        auto_tuning.max_trials tunable draws, AutoTuningConfig.java:33),
        each candidate scored by ``validation_folds``-fold stratified
        cross-validation on the train split, the winner retrained on the
        full train split and evaluated on the outer holdout.
        ``metrics["best_candidate"]`` / ``metrics["model_candidates"]``
        carry the TrainingStatistics analogue.

        Without candidates, ``method`` picks the single trainer the way
        ClassifierTrainerFactory.java:79 does: logistic_regression |
        random_forest | mlp (labels must be 0..k-1 for mlp)."""
        from pyspark.ml.evaluation import (
            MulticlassClassificationEvaluator,
        )

        feats = self._node_features(graph)
        data = _assemble(
            feats.join(labels.select("id", F.col(label_col).alias("label")),
                       "id"),
            self.feature_cols or [n for n, _ in self.steps],
        ).select("id", _FEAT, F.col("label").cast("double"))
        train_df, test_df = data.randomSplit(
            [1.0 - holdout, holdout], seed=seed
        )
        ev = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction"
        )
        tuning_stats: dict = {}
        methods = [c["method"] for c in self.model_candidates] or [method]
        n_classes = _class_count(data) if "mlp" in methods else None
        if self.model_candidates:
            folded = _stratified_folds(train_df, validation_folds, seed,
                                       "label", ["id"])

            def fit(df, cfg):
                m = cfg["method"]
                p = {k: v for k, v in cfg.items() if k != "method"}
                return _make_classifier(m, seed, df, n_classes,
                                        mlp_hidden_layers,
                                        p).fit(df.drop("_fold"))

            best, stats = _cv_select(
                folded, validation_folds,
                random_search(self.model_candidates,
                              self.auto_tuning.max_trials, seed),
                fit,
                lambda m, va: ev.evaluate(m.transform(va.drop("_fold")),
                                          {ev.metricName: tuning_metric}),
            )
            model = fit(train_df, best["config"])
            tuning_stats = {"best_candidate": best["config"],
                            "validation_score": best["avg_score"],
                            "model_candidates": stats}
        else:
            model = _make_classifier(method, seed, data, n_classes,
                                     mlp_hidden_layers).fit(train_df)
        pred = model.transform(test_df)
        metrics = {
            "accuracy": ev.evaluate(pred, {ev.metricName: "accuracy"}),
            "f1": ev.evaluate(pred, {ev.metricName: "f1"}),
            **tuning_stats,
        }
        return model, metrics

    def predict(self, graph: SparkGraph, model) -> DataFrame:
        feats = _assemble(
            self._node_features(graph),
            self.feature_cols or [n for n, _ in self.steps],
        )
        return model.transform(feats).select(
            "id", F.col("prediction").cast("long").alias("predicted_class")
        )


class NodeRegressionPipeline(_BasePipeline):
    """gds.alpha.pipeline.nodeRegression.* analogue."""

    def train(self, graph: SparkGraph, targets: DataFrame,
              target_col: str = "target", holdout: float = 0.25,
              seed: int = 42, method: str = "linear_regression",
              validation_folds: int = 3):
        """``method``: linear_regression | random_forest (the reference's
        RegressorTrainerFactory candidates). With ``add_model_candidate``
        candidates, RandomSearch + k-fold CV select the winner by lowest
        validation RMSE (NodeRegressionTrain mirrors the classification
        selection loop); folds are plain hash folds (the reference's
        non-stratified KFoldSplitter for regression)."""
        from pyspark.ml.evaluation import RegressionEvaluator
        from pyspark.ml.regression import (
            LinearRegression, RandomForestRegressor,
        )

        def make(m, p):
            if m == "linear_regression":
                return LinearRegression(
                    featuresCol=_FEAT, labelCol="target",
                    maxIter=int(p.get("max_epochs", 50)),
                    regParam=float(p.get("penalty", 0.0)))
            if m == "random_forest":
                return RandomForestRegressor(featuresCol=_FEAT,
                                             labelCol="target", seed=seed,
                                             **_forest_kwargs(p))
            raise ValueError(
                f"unknown method {m!r}: expected linear_regression "
                "or random_forest")

        feats = self._node_features(graph)
        data = _assemble(
            feats.join(
                targets.select("id", F.col(target_col).alias("target")), "id"
            ),
            self.feature_cols or [n for n, _ in self.steps],
        ).select("id", _FEAT, F.col("target").cast("double"))
        train_df, test_df = data.randomSplit(
            [1.0 - holdout, holdout], seed=seed
        )
        ev = RegressionEvaluator(labelCol="target",
                                 predictionCol="prediction")
        tuning_stats: dict = {}
        if self.model_candidates:
            folded = train_df.withColumn(
                "_fold",
                F.pmod(F.xxhash64("id", F.lit(seed)),
                       F.lit(validation_folds)).cast("int"))

            def fit(df, cfg):
                p = {k: v for k, v in cfg.items() if k != "method"}
                return make(cfg["method"], p).fit(df.drop("_fold"))

            best, stats = _cv_select(
                folded, validation_folds,
                random_search(self.model_candidates,
                              self.auto_tuning.max_trials, seed),
                fit,
                lambda m, va: ev.evaluate(m.transform(va.drop("_fold")),
                                          {ev.metricName: "rmse"}),
                higher_is_better=False,
            )
            model = fit(train_df, best["config"])
            tuning_stats = {"best_candidate": best["config"],
                            "validation_score": best["avg_score"],
                            "model_candidates": stats}
        else:
            model = make(method, {}).fit(train_df)
        pred = model.transform(test_df)
        metrics = {
            "rmse": ev.evaluate(pred, {ev.metricName: "rmse"}),
            "r2": ev.evaluate(pred, {ev.metricName: "r2"}),
            **tuning_stats,
        }
        return model, metrics

    def predict(self, graph: SparkGraph, model) -> DataFrame:
        feats = _assemble(
            self._node_features(graph),
            self.feature_cols or [n for n, _ in self.steps],
        )
        return model.transform(feats).select(
            "id", F.col("prediction").alias("predicted_value")
        )


class LinkPredictionPipeline(_BasePipeline):
    """gds.beta.pipeline.linkPrediction.* analogue.

    Link features combine the two endpoints' node-feature arrays
    (pipeline/linkPipeline/linkfunctions/): hadamard (elementwise product),
    l2 (squared difference), cosine (scalar).
    """

    def __init__(self) -> None:
        super().__init__()
        self.link_feature: str = "hadamard"

    def add_link_feature(self, kind: str) -> "LinkPredictionPipeline":
        if kind not in ("hadamard", "l2", "cosine"):
            raise ValueError(kind)
        self.link_feature = kind
        return self

    def _pair_features(self, feats: DataFrame, pairs: DataFrame) -> DataFrame:
        cols = self.feature_cols or [n for n, _ in self.steps]
        arr = feats.select(
            "id",
            F.flatten(F.array(*[
                F.col(c).cast("array<double>")
                if dict(feats.dtypes)[c].startswith("array")
                else F.array(F.col(c).cast("double"))
                for c in cols
            ])).alias("_fv"),
        )
        j = (
            pairs.join(arr.select(F.col("id").alias(SRC),
                                  F.col("_fv").alias("_fa")), SRC)
            .join(arr.select(F.col("id").alias(DST),
                             F.col("_fv").alias("_fb")), DST)
        )
        if self.link_feature == "hadamard":
            lf = F.zip_with("_fa", "_fb", lambda a, b: a * b)
        elif self.link_feature == "l2":
            lf = F.zip_with("_fa", "_fb", lambda a, b: (a - b) * (a - b))
        else:  # cosine -> single-element array
            from .functions.vector import cosine

            lf = F.array(F.coalesce(cosine(F.col("_fa"), F.col("_fb")),
                                    F.lit(0.0)))
        from pyspark.ml.functions import array_to_vector

        return j.withColumn(_FEAT, array_to_vector(lf)).drop("_fa", "_fb")

    def train(self, graph: SparkGraph, holdout: float = 0.25,
              negative_ratio: float = 1.0, seed: int = 42,
              method: str = "logistic_regression",
              mlp_hidden_layers: tuple[int, ...] = (16,),
              validation_folds: int = 3):
        """Positive = existing (distinct, non-loop) edges; negative =
        hash-sampled node pairs that are not edges (reference
        linkPipeline/train/ split semantics). ``method``:
        logistic_regression | random_forest | mlp; with
        ``add_model_candidate`` candidates, RandomSearch + k-fold CV pick
        the winner by validation AUC instead. Returns (model, metrics
        with auc)."""
        from pyspark.ml.evaluation import BinaryClassificationEvaluator

        feats = self._node_features(graph)
        edges = (
            graph.oriented_edges("UNDIRECTED").select(SRC, DST).distinct()
            .filter(F.col(SRC) < F.col(DST))
        )
        n_pos = edges.count()
        n_neg = int(n_pos * negative_ratio) or 1
        ids = graph.nodes.select("id")
        # deterministic candidate pairs: hash-ranked self-join sample
        left = ids.select(F.col("id").alias(SRC))
        right = ids.select(F.col("id").alias(DST))
        cand = (
            left.crossJoin(right)
            .filter(F.col(SRC) < F.col(DST))
            .withColumn("_h", F.xxhash64(SRC, DST, F.lit(seed)))
            .orderBy("_h")
            .limit(n_neg * 3)
            .join(edges, [SRC, DST], "left_anti")
            .limit(n_neg)
            .drop("_h")
        )
        pos = self._pair_features(feats, edges).withColumn(
            "label", F.lit(1.0)
        )
        neg = self._pair_features(feats, cand).withColumn(
            "label", F.lit(0.0)
        )
        data = pos.select(SRC, DST, _FEAT, "label").unionByName(
            neg.select(SRC, DST, _FEAT, "label")
        )
        train_df, test_df = data.randomSplit(
            [1.0 - holdout, holdout], seed=seed
        )
        ev = BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="rawPrediction"
        )
        tuning_stats: dict = {}
        n_classes = 2   # link / no link
        if self.model_candidates:
            # stratified by label over the (src, dst) key -- the LP split
            # semantics (LinkPredictionTrain CV over train relationships)
            folded = _stratified_folds(train_df, validation_folds, seed,
                                       "label", [SRC, DST])

            def fit(df, cfg):
                p = {k: v for k, v in cfg.items() if k != "method"}
                return _make_classifier(cfg["method"], seed, df, n_classes,
                                        mlp_hidden_layers,
                                        p).fit(df.drop("_fold"))

            best, stats = _cv_select(
                folded, validation_folds,
                random_search(self.model_candidates,
                              self.auto_tuning.max_trials, seed),
                fit,
                lambda m, va: ev.evaluate(m.transform(va.drop("_fold"))),
            )
            model = fit(train_df, best["config"])
            tuning_stats = {"best_candidate": best["config"],
                            "validation_score": best["avg_score"],
                            "model_candidates": stats}
        else:
            model = _make_classifier(method, seed, data, n_classes,
                                     mlp_hidden_layers).fit(train_df)
        test_used = test_df if not test_df.isEmpty() else train_df
        metrics = {"auc": ev.evaluate(model.transform(test_used)),
                   **tuning_stats}
        return model, metrics

    def predict(self, graph: SparkGraph, model,
                pairs: DataFrame | None = None,
                top_n: int | None = None) -> DataFrame:
        """(src, dst, probability) for candidate pairs (default: all
        non-edge pairs -- callers should pass bounded candidates at scale,
        e.g. KNN buckets)."""
        from pyspark.ml.functions import vector_to_array

        feats = self._node_features(graph)
        if pairs is None:
            ids = graph.nodes.select("id")
            edges = (
                graph.oriented_edges("UNDIRECTED").select(SRC, DST)
                .distinct().filter(F.col(SRC) < F.col(DST))
            )
            pairs = (
                ids.select(F.col("id").alias(SRC))
                .crossJoin(ids.select(F.col("id").alias(DST)))
                .filter(F.col(SRC) < F.col(DST))
                .join(edges, [SRC, DST], "left_anti")
            )
        scored = model.transform(self._pair_features(feats, pairs)).select(
            SRC, DST,
            vector_to_array(F.col("probability")).getItem(1)
            .alias("probability"),
        )
        if top_n is not None:
            scored = scored.orderBy(
                F.col("probability").desc(), SRC, DST
            ).limit(top_n)
        return scored


class ModelCatalog:
    """Named trained-model registry -- gds.model.list / .exists / .drop
    (model-catalog-services ModelCatalog; proc ModelListProc etc.).

    Stores whatever the pipelines' train steps return (spark.ml models);
    metadata rides alongside for the `list` surface."""

    def __init__(self) -> None:
        self._models: dict[str, tuple[object, dict]] = {}

    def store(self, name: str, model: object, **metadata) -> None:
        self._models[name] = (model, dict(metadata))

    def get(self, name: str) -> object:
        return self._models[name][0]

    def exists(self, name: str) -> bool:
        return name in self._models

    def drop(self, name: str) -> None:
        self._models.pop(name, None)

    def list(self) -> list[dict]:
        return [
            {"modelName": n, **meta}
            for n, (_, meta) in sorted(self._models.items())
        ]
