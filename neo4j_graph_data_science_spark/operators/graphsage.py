"""GraphSAGE inductive node embeddings.

Reference: embeddings/graphsage/GraphSage.java:40,
GraphSageModelTrainer.java (algo/src/main/java/org/neo4j/gds/embeddings/
graphsage/) -- mean aggregator per layer
    h_l(v) = relu(W_self . h_{l-1}(v) + W_neigh . mean_{u in N(v)} h_{l-1}(u))
trained with the unsupervised GraphSAGE loss (positive = co-occurring
pairs, Q negative samples, logistic affinity).

Spark-first split that mirrors the reference's own execution shape:

* **Training** (GDS trains on a single JVM over sampled mini-batches --
  GraphSageModelTrainer batches are bounded, not whole-graph): we sample a
  bounded subgraph (``train_node_count`` roots + their sampled 1/2-hop
  neighborhoods), pull ONLY that bounded tensor to the driver, and run
  dense numpy forward/backward. Model weights are a few KB.
* **Inference** is fully distributed and deterministic: per layer, the
  neighbor mean is the pure-JVM posexplode -> avg-per-(node,dim) kernel
  (same skew-spreading shape as FastRP's), and the affine+relu step is ONE
  Arrow-batched pandas UDF doing a numpy matmul per batch -- vectorized,
  never per-row Python. Inference uses the full neighbor mean (the
  deterministic limit of GDS's neighbor sampling).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph
from ..plans.checkpoint import truncate_mem
from ..plans.pregel import prepare_edges


@dataclass
class GraphSageConfig:
    embedding_dim: int = 32
    hidden_dim: int = 32
    sample_sizes: tuple[int, ...] = (25, 10)   # per-layer neighbor samples
    train_node_count: int = 512                # batch roots pulled to driver
    epochs: int = 10
    learning_rate: float = 0.05
    negative_samples: int = 5                  # Q in the unsupervised loss
    seed: int = 42
    partitions: int | None = None
    # guard on the driver-side dense training adjacency (O(n^2) doubles):
    # 30k nodes ~= 7.2 GB, a clear error instead of an OOM
    max_involved_nodes: int = 30_000
    # "mean" (MeanAggregator.java) | "pool" (MaxPoolingAggregator.java:
    # neighbors pass through a learned relu(W_pool . h + b) layer, then an
    # elementwise MAX replaces the mean)
    aggregator: str = "mean"


def _degree_features(graph: SparkGraph) -> DataFrame:
    """Default features when none are given: [log1p(degree), 1.0] (the
    reference's degreeAsProperty fallback, plus a bias channel)."""
    deg = graph.degrees("UNDIRECTED")
    return graph.nodes.select("id").join(deg, "id", "left").select(
        "id",
        F.array(F.log1p(F.coalesce("degree", F.lit(0)).cast("double")),
                F.lit(1.0)).alias("features"),
    )


def _neighbor_mean(edges: DataFrame, state: DataFrame, dim: int,
                   nodes: DataFrame) -> DataFrame:
    """(id, nvec): full mean of neighbors' vectors, JVM-side (posexplode ->
    avg per (node, dim) -> reassemble); zero vector for isolated nodes."""
    msgs = (
        edges.join(state.select(F.col("id").alias(SRC), "vec"), SRC)
        .select(F.col(DST).alias("id"), F.posexplode("vec").alias("pos", "x"))
        .groupBy("id", "pos")
        .agg(F.avg("x").alias("x"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "x"))).alias("_px"))
        .select("id", F.col("_px.x").alias("nvec"))
    )
    return nodes.join(msgs, "id", "left").select(
        "id",
        F.coalesce("nvec", F.array_repeat(F.lit(0.0), dim)).alias("nvec"),
    )


def _neighbor_max(edges: DataFrame, state: DataFrame, dim: int,
                  nodes: DataFrame, vec_col: str = "vec") -> DataFrame:
    """(id, nvec): elementwise MAX of neighbors' vectors (the pool
    aggregator's combine), same JVM posexplode shape as the mean; zero
    vector for isolated nodes (MaxPoolingAggregator's empty-neighborhood
    identity)."""
    msgs = (
        edges.join(state.select(F.col("id").alias(SRC),
                                F.col(vec_col).alias("_v")), SRC)
        .select(F.col(DST).alias("id"), F.posexplode("_v").alias("pos", "x"))
        .groupBy("id", "pos")
        .agg(F.max("x").alias("x"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "x"))).alias("_px"))
        .select("id", F.col("_px.x").alias("nvec"))
    )
    return nodes.join(msgs, "id", "left").select(
        "id",
        F.coalesce("nvec", F.array_repeat(F.lit(0.0), dim)).alias("nvec"),
    )


def _sample_training_tensors(graph: SparkGraph, features: DataFrame,
                             cfg: GraphSageConfig):
    """Bounded minibatch subgraph -> (X, A_mean, pos_pairs) numpy tensors.

    Roots are a deterministic hash sample; each involved node keeps at most
    max(sample_sizes) neighbors (hash-ranked), so the pulled tensor is
    O(train_node_count * fanout^2) regardless of graph size.
    """
    fanout = max(cfg.sample_sizes)
    und = graph.oriented_edges("UNDIRECTED").select(SRC, DST).distinct() \
        .filter(F.col(SRC) != F.col(DST))
    roots = (
        graph.nodes.select("id")
        .orderBy(F.xxhash64("id", F.lit(cfg.seed)))
        .limit(cfg.train_node_count)
    )
    from pyspark.sql.window import Window

    def sampled_out_edges(frontier: DataFrame) -> DataFrame:
        w = Window.partitionBy(SRC).orderBy(
            F.xxhash64(DST, F.lit(cfg.seed + 1)))
        return (
            und.join(frontier.select(F.col("id").alias(SRC)), SRC, "left_semi")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= fanout).drop("_rn")
        )
    e1 = sampled_out_edges(roots)
    hop1 = e1.select(F.col(DST).alias("id")).distinct()
    e2 = sampled_out_edges(hop1)
    sub = e1.unionByName(e2).distinct()
    # Explicit guard on the driver-side tensor (round-2 verdict #9): the
    # sample is bounded by config (O(train_node_count * fanout^2) worst
    # case), but a misconfigured run should fail loudly, not OOM. The dense
    # adjacency is O(involved^2) doubles, so cap the ACTUAL involved-node
    # count (cheap count job) before pulling anything.
    n_involved = (
        sub.select(F.col(SRC).alias("id"))
        .unionByName(sub.select(F.col(DST).alias("id")))
        .unionByName(roots).distinct().count()
    )
    if n_involved > cfg.max_involved_nodes:
        raise ValueError(
            f"graphsage training sample involves {n_involved} nodes "
            f"(> max_involved_nodes={cfg.max_involved_nodes}); the dense "
            "driver-side adjacency would be "
            f"~{8 * n_involved * n_involved / 1e9:.1f} GB -- lower "
            "train_node_count or sample_sizes, or raise the guard"
        )
    sub_edges = sub.toPandas()
    involved = sorted(
        set(sub_edges[SRC]) | set(sub_edges[DST])
        | {r["id"] for r in roots.collect()}
    )
    pos = {nid: i for i, nid in enumerate(involved)}
    feats = (
        features.filter(F.col("id").isin([int(i) for i in involved]))
        .toPandas().set_index("id")
    )
    f_dim = len(feats["features"].iloc[0])
    X = np.zeros((len(involved), f_dim))
    for nid, row in feats.iterrows():
        X[pos[nid]] = np.asarray(row["features"], dtype=float)
    A = np.zeros((len(involved), len(involved)))
    for s, d in zip(sub_edges[SRC], sub_edges[DST]):
        A[pos[s], pos[d]] = 1.0
        A[pos[d], pos[s]] = 1.0
    rs = A.sum(axis=1, keepdims=True)
    A_mean = np.divide(A, rs, out=np.zeros_like(A), where=rs > 0)
    pairs = np.array(
        [[pos[s], pos[d]] for s, d in zip(sub_edges[SRC], sub_edges[DST])],
        dtype=int,
    )
    return X, A_mean, pairs


def _forward(X, A_mean, Ws1, Wn1, Ws2, Wn2):
    M0 = A_mean @ X
    Z1 = X @ Ws1.T + M0 @ Wn1.T
    H1 = np.maximum(Z1, 0.0)
    M1 = A_mean @ H1
    Z2 = H1 @ Ws2.T + M1 @ Wn2.T
    return M0, Z1, H1, M1, Z2


def _pool_max(P: np.ndarray, ev: np.ndarray, eu: np.ndarray) -> np.ndarray:
    """Elementwise max over in-neighbors: M[v] = max_{(v,u) in E} P[u];
    zero vector for nodes with no neighbors (the aggregator's identity)."""
    M = np.full_like(P, -np.inf)
    if len(ev):
        np.maximum.at(M, ev, P[eu])
    M[~np.isfinite(M)] = 0.0
    return M


def _pool_max_grad(dM, P, M, ev, eu):
    """Route dL/dM back to the argmax contributors; ties SPLIT the
    gradient (divide by the tie count per (v, dim)) -- with e.g. the
    default degree features many neighbors share identical pooled rows,
    and crediting each tied contributor the full gradient would scale the
    pool-layer step by the duplicate multiplicity."""
    dP = np.zeros_like(P)
    if len(ev):
        mask = P[eu] == M[ev]
        ties = np.zeros_like(M)
        np.add.at(ties, ev, mask.astype(M.dtype))
        share = np.divide(dM, ties, out=np.zeros_like(dM), where=ties > 0)
        np.add.at(dP, eu, share[ev] * mask)
    return dP


def graphsage_train(graph: SparkGraph, features: DataFrame | None = None,
                    config: GraphSageConfig | None = None) -> dict:
    """Train the two mean-aggregator layers; returns the (tiny) weight
    dict {Ws1, Wn1, Ws2, Wn2, f_dim} for graphsage_predict."""
    cfg = config or GraphSageConfig()
    if cfg.aggregator not in ("mean", "pool"):
        raise ValueError(f"unknown aggregator {cfg.aggregator!r}")
    pool = cfg.aggregator == "pool"
    feats = features if features is not None else _degree_features(graph)
    X, A_mean, pairs = _sample_training_tensors(graph, feats, cfg)
    n, f_dim = X.shape
    rng = np.random.default_rng(cfg.seed)
    sc1 = 1.0 / np.sqrt(max(f_dim, 1))
    sc2 = 1.0 / np.sqrt(max(cfg.hidden_dim, 1))
    Ws1 = rng.normal(0, sc1, (cfg.hidden_dim, f_dim))
    Wn1 = rng.normal(0, sc1, (cfg.hidden_dim, f_dim))
    Ws2 = rng.normal(0, sc2, (cfg.embedding_dim, cfg.hidden_dim))
    Wn2 = rng.normal(0, sc2, (cfg.embedding_dim, cfg.hidden_dim))
    model = {"Ws1": Ws1, "Wn1": Wn1, "Ws2": Ws2, "Wn2": Wn2,
             "f_dim": f_dim, "aggregator": cfg.aggregator}
    if pool:
        # the learned per-neighbor pool transform (MaxPoolingAggregator's
        # poolWeights/bias); square per layer so Wn keeps its mean shape
        model["Wp1"] = rng.normal(0, sc1, (f_dim, f_dim))
        model["bp1"] = np.zeros(f_dim)
        model["Wp2"] = rng.normal(0, sc2, (cfg.hidden_dim, cfg.hidden_dim))
        model["bp2"] = np.zeros(cfg.hidden_dim)
    if len(pairs) == 0:
        return model
    # both directions: the aggregation neighborhood is undirected
    ev = np.concatenate([pairs[:, 0], pairs[:, 1]])
    eu = np.concatenate([pairs[:, 1], pairs[:, 0]])

    def sigmoid(x):
        return 1.0 / (1.0 + np.exp(-np.clip(x, -30, 30)))

    lr = cfg.learning_rate
    for _ in range(cfg.epochs):
        if pool:
            Wp1, bp1, Wp2, bp2 = (model["Wp1"], model["bp1"],
                                  model["Wp2"], model["bp2"])
            P0 = np.maximum(X @ Wp1.T + bp1, 0.0)
            M0 = _pool_max(P0, ev, eu)
            Z1 = X @ Ws1.T + M0 @ Wn1.T
            H1 = np.maximum(Z1, 0.0)
            P1 = np.maximum(H1 @ Wp2.T + bp2, 0.0)
            M1 = _pool_max(P1, ev, eu)
            Z2 = H1 @ Ws2.T + M1 @ Wn2.T
        else:
            M0, Z1, H1, M1, Z2 = _forward(X, A_mean, Ws1, Wn1, Ws2, Wn2)
        H2 = Z2
        G = np.zeros_like(H2)
        u, v = pairs[:, 0], pairs[:, 1]
        # positive pairs: push dot(h_u, h_v) up
        s = sigmoid((H2[u] * H2[v]).sum(axis=1))
        np.add.at(G, u, (s - 1.0)[:, None] * H2[v])
        np.add.at(G, v, (s - 1.0)[:, None] * H2[u])
        # Q negatives per positive: push dot(h_u, h_neg) down
        negs = rng.integers(0, n, size=(len(pairs), cfg.negative_samples))
        for q in range(cfg.negative_samples):
            nn = negs[:, q]
            sn = sigmoid((H2[u] * H2[nn]).sum(axis=1))
            np.add.at(G, u, sn[:, None] * H2[nn])
            np.add.at(G, nn, sn[:, None] * H2[u])
        G /= max(len(pairs), 1)
        dWs2 = G.T @ H1
        dWn2 = G.T @ M1
        if pool:
            dM1 = G @ Wn2
            dP1pre = _pool_max_grad(dM1, P1, M1, ev, eu) * (P1 > 0)
            dH1 = G @ Ws2 + dP1pre @ Wp2
            dZ1 = dH1 * (Z1 > 0)
            dM0 = dZ1 @ Wn1
            dP0pre = _pool_max_grad(dM0, P0, M0, ev, eu) * (P0 > 0)
            model["Wp2"] = Wp2 - lr * (dP1pre.T @ H1)
            model["bp2"] = bp2 - lr * dP1pre.sum(axis=0)
            model["Wp1"] = Wp1 - lr * (dP0pre.T @ X)
            model["bp1"] = bp1 - lr * dP0pre.sum(axis=0)
        else:
            dH1 = G @ Ws2 + A_mean.T @ (G @ Wn2)
            dZ1 = dH1 * (Z1 > 0)
        dWs1 = dZ1.T @ X
        dWn1 = dZ1.T @ M0
        Ws1 -= lr * dWs1
        Wn1 -= lr * dWn1
        Ws2 -= lr * dWs2
        Wn2 -= lr * dWn2
    return model


def graphsage_predict(graph: SparkGraph, model: dict,
                      features: DataFrame | None = None,
                      config: GraphSageConfig | None = None) -> DataFrame:
    """(id, embedding): distributed two-layer forward pass. Neighbor means
    run in the JVM; each layer's affine+relu is one Arrow-batched numpy
    matmul over the whole partition batch."""
    cfg = config or GraphSageConfig()
    feats = features if features is not None else _degree_features(graph)
    edges = prepare_edges(
        graph.oriented_edges("UNDIRECTED").select(SRC, DST).distinct(),
        cfg.partitions,
    )
    nodes = graph.nodes.select("id")
    state = truncate_mem(
        nodes.join(feats, "id", "left").select(
            "id",
            F.coalesce(
                F.col("features").cast("array<double>"),
                F.array_repeat(F.lit(0.0), int(model["f_dim"])),
            ).alias("vec"),
        ))

    pool = model.get("aggregator", "mean") == "pool"

    def layer(state: DataFrame, Ws: np.ndarray, Wn: np.ndarray,
              relu: bool, normalize: bool,
              Wp: np.ndarray | None = None,
              bp: np.ndarray | None = None) -> DataFrame:
        dim_in = Ws.shape[1]
        if pool:
            # pool transform per node ONCE (one Arrow matmul batch), then
            # the elementwise neighbor MAX runs JVM-side like the mean
            @F.pandas_udf("array<double>")
            def pool_fwd(vec_s: pd.Series) -> pd.Series:
                P = np.maximum(np.stack(vec_s.to_numpy()) @ Wp.T + bp, 0.0)
                return pd.Series(list(P))

            pooled = state.select("id", pool_fwd("vec").alias("pvec"))
            nm = _neighbor_max(edges, pooled, dim_in, nodes, vec_col="pvec")
        else:
            nm = _neighbor_mean(edges, state, dim_in, nodes)
        joined = state.join(nm, "id")

        @F.pandas_udf("array<double>")
        def fwd(self_s: pd.Series, neigh_s: pd.Series) -> pd.Series:
            Xs = np.stack(self_s.to_numpy())
            Xn = np.stack(neigh_s.to_numpy())
            Z = Xs @ Ws.T + Xn @ Wn.T
            if relu:
                Z = np.maximum(Z, 0.0)
            if normalize:
                nrm = np.linalg.norm(Z, axis=1, keepdims=True)
                Z = np.divide(Z, nrm, out=Z, where=nrm > 0)
            return pd.Series(list(Z))

        return truncate_mem(
            joined.select("id", fwd("vec", "nvec").alias("vec")))

    state = layer(state, model["Ws1"], model["Wn1"], relu=True,
                  normalize=False,
                  Wp=model.get("Wp1"), bp=model.get("bp1"))
    state = layer(state, model["Ws2"], model["Wn2"], relu=False,
                  normalize=True,
                  Wp=model.get("Wp2"), bp=model.get("bp2"))
    edges.unpersist()
    return state.select("id", F.col("vec").alias("embedding"))


def graphsage(graph: SparkGraph, features: DataFrame | None = None,
              config: GraphSageConfig | None = None) -> DataFrame:
    """Train + predict in one call (the gds.beta.graphSage train->stream
    shape)."""
    cfg = config or GraphSageConfig()
    model = graphsage_train(graph, features, cfg)
    return graphsage_predict(graph, model, features, cfg)
