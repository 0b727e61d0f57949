"""ML pipelines: NC recovers a community label from structural features,
NR fits a linear target, LP ranks within-clique pairs above cross pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from neo4j_graph_data_science_spark.catalog import from_edge_list
from neo4j_graph_data_science_spark.pipelines import (
    LinkPredictionPipeline,
    NodeClassificationPipeline,
    NodeRegressionPipeline,
)


def _two_cliques(spark, size=10):
    edges = []
    for i in range(size):
        for j in range(i + 1, size):
            edges.append((i, j))
            edges.append((size + i, size + j))
    edges.append((0, size))
    return from_edge_list(spark, edges, n_nodes=2 * size)


def test_node_classification(spark):
    g = _two_cliques(spark)
    from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc

    def comm_feature(graph):
        # WCC on the graph minus the bridge would separate; instead use a
        # seed-ish structural feature: distance parity to node 0 via id
        return graph.nodes.select(
            "id", (F.col("id") < 10).cast("double").alias("v"))

    pipe = (
        NodeClassificationPipeline()
        .add_node_property("side", comm_feature)
        .add_node_property("deg", lambda gr: gr.degrees("UNDIRECTED"))
    )
    labels = g.nodes.select("id", (F.col("id") >= 10).cast("long")
                            .alias("label"))
    model, metrics = pipe.train(g, labels, holdout=0.3)
    assert metrics["accuracy"] == 1.0
    pred = {r["id"]: r["predicted_class"]
            for r in pipe.predict(g, model).collect()}
    assert all(pred[i] == (1 if i >= 10 else 0) for i in range(20))


def test_node_regression(spark):
    g = _two_cliques(spark)
    pipe = NodeRegressionPipeline().add_node_property(
        "deg", lambda gr: gr.degrees("UNDIRECTED"))
    targets = g.degrees("UNDIRECTED").select(
        "id", (2.0 * F.col("degree") + 1.0).alias("target"))
    model, metrics = pipe.train(g, targets, holdout=0.3)
    assert metrics["rmse"] < 1e-6
    pred = pipe.predict(g, model)
    assert pred.count() == 20


def test_link_prediction(spark):
    g = _two_cliques(spark, size=8)
    pipe = (
        LinkPredictionPipeline()
        .add_node_property(
            "side", lambda gr: gr.nodes.select(
                "id", (F.col("id") < 8).cast("double").alias("v")))
        .add_link_feature("hadamard")
    )
    model, metrics = pipe.train(g, holdout=0.25, seed=5)
    assert metrics["auc"] > 0.5
    # score the missing within-clique pair vs a cross pair
    pairs = spark.createDataFrame([(1, 2), (1, 9)], "src long, dst long")
    scored = {(r["src"], r["dst"]): r["probability"]
              for r in pipe.predict(g, model, pairs=pairs).collect()}
    assert scored[(1, 2)] > scored[(1, 9)]


def test_node_classification_mlp_exact_recovery(spark):
    """method='mlp' (ClassifierTrainerFactory.java:79 MLPClassifier ->
    spark.ml MultilayerPerceptronClassifier) recovers a linearly separable
    community label exactly, like the logistic path."""
    g = _two_cliques(spark)
    pipe = (
        NodeClassificationPipeline()
        .add_node_property("side", lambda gr: gr.nodes.select(
            "id", (F.col("id") < 10).cast("double").alias("v")))
        .add_node_property("deg", lambda gr: gr.degrees("UNDIRECTED"))
    )
    labels = g.nodes.select("id", (F.col("id") >= 10).cast("long")
                            .alias("label"))
    model, metrics = pipe.train(g, labels, holdout=0.3, method="mlp",
                                mlp_hidden_layers=(8,))
    assert metrics["accuracy"] == 1.0
    pred = {r["id"]: r["predicted_class"]
            for r in pipe.predict(g, model).collect()}
    assert all(pred[i] == (1 if i >= 10 else 0) for i in range(20))


def test_node_classification_random_forest(spark):
    g = _two_cliques(spark)
    pipe = NodeClassificationPipeline().add_node_property(
        "side", lambda gr: gr.nodes.select(
            "id", (F.col("id") < 10).cast("double").alias("v")))
    labels = g.nodes.select("id", (F.col("id") >= 10).cast("long")
                            .alias("label"))
    model, metrics = pipe.train(g, labels, holdout=0.3,
                                method="random_forest")
    assert metrics["accuracy"] == 1.0


def test_node_regression_random_forest(spark):
    g = _two_cliques(spark)
    pipe = NodeRegressionPipeline().add_node_property(
        "deg", lambda gr: gr.degrees("UNDIRECTED"))
    targets = g.degrees("UNDIRECTED").select(
        "id", (2.0 * F.col("degree") + 1.0).alias("target"))
    model, metrics = pipe.train(g, targets, holdout=0.3,
                                method="random_forest")
    assert metrics["rmse"] < 2.0   # tree regressor: approximate, not exact
    assert pipe.predict(g, model).count() == 20


def test_pipeline_rejects_unknown_method(spark):
    import pytest

    g = _two_cliques(spark)
    labels = g.nodes.select("id", F.lit(0).alias("label"))
    with pytest.raises(ValueError, match="unknown method"):
        NodeClassificationPipeline().add_node_property(
            "deg", lambda gr: gr.degrees("UNDIRECTED")
        ).train(g, labels, method="svm")


def test_random_search_trial_stream_semantics(spark):
    """RandomSearch.java parity: concrete candidates all run exactly once
    and first; tunable candidates are drawn up to max_trials times with
    range params materialized in-bounds (log-scale honored); the stream
    is deterministic in the seed; a fully concrete space ignores
    max_trials."""
    from neo4j_graph_data_science_spark.pipelines import random_search

    cands = [
        {"method": "logistic_regression", "penalty": 0.5},
        {"method": "logistic_regression",
         "penalty": {"range": [1e-4, 1.0], "log_scale": True},
         "max_epochs": {"range": [10, 50]}},
        {"method": "random_forest", "num_trees": {"values": [5, 10, 20]}},
    ]
    trials = list(random_search(cands, max_trials=10, seed=7))
    assert len(trials) == 11  # 1 concrete + 10 tunable draws
    assert trials[0] == {"method": "logistic_regression", "penalty": 0.5}
    for t in trials[1:]:
        if t["method"] == "logistic_regression":
            assert 1e-4 <= t["penalty"] <= 1.0
            assert 10 <= t["max_epochs"] < 50
            assert isinstance(t["max_epochs"], int)
        else:
            assert t["num_trees"] in (5, 10, 20)
    assert trials == list(random_search(cands, max_trials=10, seed=7))
    assert trials != list(random_search(cands, max_trials=10, seed=8))

    concrete_only = [{"method": "mlp"}, {"method": "random_forest"}]
    assert list(random_search(concrete_only, 10, 1)) == concrete_only


def test_auto_tuning_selects_winning_classifier(spark):
    """Model selection fixture where one candidate provably wins: an
    unpenalized logistic regression separates the cliques perfectly while
    a penalty=1000 candidate collapses its weights to ~0 (majority-class
    predictions). CV must rank the unpenalized one best and the final
    model must be trained from it."""
    g = _two_cliques(spark)
    pipe = (
        NodeClassificationPipeline()
        .add_node_property("side", lambda gr: gr.nodes.select(
            "id", (F.col("id") < 10).cast("double").alias("v")))
        .add_model_candidate("logistic_regression", penalty=1000.0)
        .add_model_candidate("logistic_regression", penalty=0.0)
        .configure_auto_tuning(max_trials=5)
    )
    labels = g.nodes.select("id", (F.col("id") >= 10).cast("long")
                            .alias("label"))
    model, metrics = pipe.train(g, labels, holdout=0.3, seed=3,
                                validation_folds=2)
    assert metrics["best_candidate"]["penalty"] == 0.0
    assert metrics["accuracy"] == 1.0
    assert len(metrics["model_candidates"]) == 2
    by_cfg = {s["config"]["penalty"]: s["avg_score"]
              for s in metrics["model_candidates"]}
    assert by_cfg[0.0] > by_cfg[1000.0]
    pred = {r["id"]: r["predicted_class"]
            for r in pipe.predict(g, model).collect()}
    assert all(pred[i] == (1 if i >= 10 else 0) for i in range(20))


def test_auto_tuning_regression_picks_linear_for_linear_target(spark):
    """NR selection: a linear target is fit exactly by linear regression
    but only coarsely by a depth-1 forest; CV rmse must pick linear."""
    g = _two_cliques(spark)
    pipe = (
        NodeRegressionPipeline()
        .add_node_property("idv", lambda gr: gr.nodes.select(
            "id", F.col("id").cast("double").alias("v")))
        .add_model_candidate("random_forest", max_depth=1, num_trees=2)
        .add_model_candidate("linear_regression")
    )
    targets = g.nodes.select(
        "id", (2.0 * F.col("id") + 1.0).alias("target"))
    model, metrics = pipe.train(g, targets, holdout=0.3,
                                validation_folds=2)
    assert metrics["best_candidate"]["method"] == "linear_regression"
    assert metrics["rmse"] < 1e-6


def test_auto_tuning_link_prediction_runs_cv(spark):
    g = _two_cliques(spark, size=8)
    pipe = (
        LinkPredictionPipeline()
        .add_node_property(
            "side", lambda gr: gr.nodes.select(
                "id", (F.col("id") < 8).cast("double").alias("v")))
        .add_link_feature("hadamard")
        .add_model_candidate("logistic_regression", penalty=0.0)
        .add_model_candidate("logistic_regression",
                             penalty={"range": [0.001, 0.1],
                                      "log_scale": True})
        .configure_auto_tuning(max_trials=2)
    )
    model, metrics = pipe.train(g, holdout=0.25, seed=5,
                                validation_folds=2)
    assert metrics["auc"] > 0.5
    assert len(metrics["model_candidates"]) == 3  # 1 concrete + 2 draws
    assert "penalty" in metrics["best_candidate"]


def test_mlp_output_layer_covers_every_label_in_each_fold(spark, monkeypatch):
    """A singleton top class lands in one CV fold only, so the training
    folds of that split lack it. Every MLP built during model selection
    (each fold and the final refit) must still have one output unit per
    label, probed once from the full labelled frame."""
    from neo4j_graph_data_science_spark import pipelines

    outputs: list[int] = []
    orig = pipelines._make_classifier

    def spy(*args, **kwargs):
        est = orig(*args, **kwargs)
        outputs.append(est.getLayers()[-1])
        return est

    monkeypatch.setattr(pipelines, "_make_classifier", spy)
    g = _two_cliques(spark)
    pipe = (
        NodeClassificationPipeline()
        .add_node_property("side", lambda gr: gr.nodes.select(
            "id", (F.col("id") < 10).cast("double").alias("v")))
        .add_model_candidate("mlp", hidden_layer_sizes=[4], max_epochs=5)
    )
    labels = g.nodes.select("id", F.when(F.col("id") == 19, 2)
                            .when(F.col("id") >= 10, 1).otherwise(0)
                            .cast("long").alias("label"))
    pipe.train(g, labels, holdout=0.2, seed=3, validation_folds=2)
    assert outputs == [3, 3, 3]   # two folds + the final refit
