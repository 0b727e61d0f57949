"""Node embeddings: FastRP and node2vec random walks.

FastRP (reference embeddings/fastrp/FastRP.java:55): very sparse random
projection init (entries +/- sqrt(s) with prob 1/2s each, else 0,
s = sparsity 3) followed by iterated neighbor averaging; the final
embedding is sum_i iterationWeight_i * normalize(A^i @ R). All
randomness here is HASH-derived (xxhash64(node, dim, seed)) -- no RNG
state, so results are identical across cluster sizes and resumes.

Execution shape: the vertex state is an array<double> column. The
neighbor-mean aggregation is pure JVM: posexplode(vec) -> avg per
(dst, dim) cell -> array_sort(collect_list) reassembly. No Python in the
iteration hot path, and hub vertices spread across `dim` reducer keys
(free skew mitigation).

node2vec walks (reference traversal/RandomWalk.java:46): uniform
first-order walks with hash-based neighbor choice: at step t the walk at
node v moves to argmin_{u in N(v)} xxhash64(walk_id, t, u) -- a uniform
pick that needs no RNG state and is reproducible under any partitioning.
(The p/q second-order bias of full node2vec requires the previous step's
neighborhood; GDS itself defaults to p=q=1 = uniform.) Output feeds
spark.ml Word2Vec for the SGNS training stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, W, SparkGraph
from ..plans.checkpoint import truncate_mem
from ..plans.pregel import prepare_edges


@dataclass
class FastRPConfig:
    embedding_dim: int = 64
    iteration_weights: list[float] = field(default_factory=lambda: [0.0, 1.0, 1.0])
    normalization_strength: float = 0.0
    seed: int = 42
    partitions: int | None = None
    # "xxhash64" (default, int64 JVM hash -- the fast/scale path) or "md5"
    # (60-bit int from the md5 hex prefix; byte-identical in any engine with
    # a standard md5, which makes the whole embedding DuckDB-verifiable --
    # same parity trick as dedup.minhash_signatures / simhash).
    hash_mode: str = "xxhash64"


def _sparse_init(nodes: DataFrame, dim: int, seed: int,
                 hash_mode: str = "xxhash64") -> DataFrame:
    """(id, vec): very sparse random projection row per node, hash-derived.
    P(+sqrt(3)) = P(-sqrt(3)) = 1/6, else 0 (s = 3)."""
    s = 3.0
    val = 3.0 ** 0.5
    dims = F.sequence(F.lit(0), F.lit(dim - 1))
    if hash_mode == "md5":
        h = lambda d: F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(
                        ":", F.col("id").cast("string"), d.cast("string"),
                        F.lit(str(seed)))),
                    1, 15),
                16, 10).cast("long"),
            F.lit(int(2 * s)))
    else:
        h = lambda d: F.pmod(F.xxhash64(F.col("id"), d, F.lit(seed)), F.lit(int(2 * s)))
    vec = F.transform(
        dims,
        lambda d: F.when(h(d) == 0, F.lit(val))
        .when(h(d) == 1, F.lit(-val))
        .otherwise(F.lit(0.0)),
    )
    return nodes.select("id", vec.alias("vec"))


def _l2_rows(df: DataFrame, col: str = "vec") -> DataFrame:
    norm = F.sqrt(
        F.aggregate(F.col(col), F.lit(0.0), lambda a, x: a + x * x)
    )
    return df.withColumn(
        col,
        F.when(norm > 0, F.transform(F.col(col), lambda x: x / norm))
        .otherwise(F.col(col)),
    )


def fast_rp(graph: SparkGraph, config: FastRPConfig | None = None) -> DataFrame:
    """(id, embedding: array<double>): FastRP embeddings."""
    cfg = config or FastRPConfig()
    edges = prepare_edges(
        graph.oriented_edges("UNDIRECTED").select(SRC, DST).distinct(),
        cfg.partitions,
    )
    nodes = graph.nodes.select("id")
    init = _sparse_init(nodes, cfg.embedding_dim, cfg.seed, cfg.hash_mode)
    if cfg.normalization_strength != 0.0:
        # degree^normalizationStrength scaling of the initial random
        # vectors (FastRP.java:339-342; degree 0 -> scale 1)
        deg = graph.degrees("UNDIRECTED")
        scale = F.when(F.col("degree") == 0, F.lit(1.0)).otherwise(
            F.pow(F.col("degree"), F.lit(float(cfg.normalization_strength)))
        )
        init = (
            init.join(deg, "id", "left").fillna(0.0, ["degree"])
            .select("id", F.transform("vec", lambda x: x * scale).alias("vec"))
        )
    state = _l2_rows(init).transform(truncate_mem)

    acc = None
    for i, w in enumerate(cfg.iteration_weights):
        if i > 0:
            # JVM-side neighbor mean: posexplode the vector, average each
            # (dst, dim) cell, re-assemble sorted by dim. Stays inside
            # whole-stage codegen end to end, and the (id, pos) grouping key
            # spreads a hub vertex's aggregation over `dim` reducers --
            # built-in skew mitigation that the old one-pandas-group-per-
            # vertex applyInPandas kernel lacked (round-1 hot spot).
            msgs = (
                edges.join(state.select(F.col("id").alias(SRC), "vec"), SRC)
                .select(F.col(DST).alias("id"),
                        F.posexplode("vec").alias("pos", "x"))
                .groupBy("id", "pos")
                .agg(F.avg("x").alias("x"))
                .groupBy("id")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "x")))
                     .alias("_px"))
                .select("id", F.col("_px.x").alias("vec"))
            )
            state = _l2_rows(
                nodes.join(msgs, "id", "left").select(
                    "id",
                    F.coalesce(
                        "vec",
                        F.array_repeat(F.lit(0.0), cfg.embedding_dim),
                    ).alias("vec"),
                )
            ).transform(truncate_mem)
        if w != 0.0:
            contrib = state.select(
                "id", F.transform("vec", lambda x: x * F.lit(w)).alias("_c")
            )
            if acc is None:
                acc = contrib.withColumnRenamed("_c", "emb")
            else:
                acc = (
                    acc.join(contrib, "id")
                    .select(
                        "id",
                        F.zip_with("emb", "_c", lambda a, b: a + b).alias("emb"),
                    )
                    .transform(truncate_mem)
                )
    edges.unpersist()
    if acc is None:
        acc = state.select("id", F.col("vec").alias("emb"))
    return acc.select("id", F.col("emb").alias("embedding"))


@dataclass
class RandomWalkConfig:
    walk_length: int = 10
    walks_per_node: int = 1
    seed: int = 42
    partitions: int | None = None
    # node2vec second-order bias (traversal/RandomWalk.java:46 with the
    # node2vec sampler: returnFactor = p, inOutFactor = q of the paper):
    # candidate weight is 1/p when returning to the previous node, 1 when
    # the candidate neighbors the previous node, 1/q otherwise. p=q=1
    # degenerates to the uniform first-order walk (cheaper plan, no
    # prev-adjacency join).
    return_factor: float = 1.0    # p
    in_out_factor: float = 1.0    # q
    # "xxhash64" (default) or "md5": md5 mode derives the per-step pick from
    # a 60-bit md5-prefix integer, byte-identical in any engine with a
    # standard md5, so the full walk SEQUENCES are DuckDB-verifiable.
    # Uniform (p=q=1) walks only -- the biased path keeps xxhash64.
    hash_mode: str = "xxhash64"


def random_walks(graph: SparkGraph, config: RandomWalkConfig | None = None) -> DataFrame:
    """(walk_id, start, step, node): hash-chosen walks, uniform or
    p/q-biased (node2vec second order).

    Each step is one join + one min-reduce by (walk, step) -- the
    deterministic analogue of per-walk RNG, reproducible on any cluster.
    The weighted pick uses Efraimidis-Spirakis exponential keys
    (key = -ln(u)/weight, keep the min), so biasing stays a pure column
    expression; the second-order bias needs one extra join per step
    against the edge set to test candidate-adjacent-to-previous.
    Walks stop early at sink nodes (no out-neighbors)."""
    cfg = config or RandomWalkConfig()
    edges = prepare_edges(graph.edges.select(SRC, DST).distinct(), cfg.partitions)
    starts = graph.nodes.select("id")
    biased = not (cfg.return_factor == 1.0 and cfg.in_out_factor == 1.0)
    walks = starts.select(
        F.col("id").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(cfg.walks_per_node - 1))).alias("_w"),
    ).select(
        (F.col("start") * cfg.walks_per_node + F.col("_w")).alias("walk_id"),
        "start",
        F.col("start").alias("cur"),
        F.lit(None).cast("long").alias("prev"),
    ).transform(truncate_mem)

    M = 1_000_000_007
    paths = [walks.select("walk_id", "start", F.lit(0).alias("step"),
                          F.col("cur").alias("node"))]
    frontier = walks
    for step in range(1, cfg.walk_length):
        if cfg.hash_mode == "md5":
            h = F.conv(
                F.substring(
                    F.md5(F.concat_ws(
                        ":", F.col("walk_id").cast("string"), F.lit(str(step)),
                        F.col(DST).cast("string"), F.lit(str(cfg.seed)))),
                    1, 15),
                16, 10).cast("long")
        else:
            h = F.xxhash64(F.col("walk_id"), F.lit(step), F.col(DST), F.lit(cfg.seed))
        nxt = (
            edges.join(frontier.withColumnRenamed("cur", SRC), SRC)
            .withColumn("_h", h)
        )
        if biased:
            # candidate x with previous node t: weight 1/p if x==t; 1 if
            # edge t->x exists; else 1/q (node2vec alpha of RandomWalk.java)
            prev_adj = edges.select(F.col(SRC).alias("prev"),
                                    F.col(DST).alias(DST),
                                    F.lit(True).alias("_adj"))
            nxt = nxt.join(prev_adj, ["prev", DST], "left")
            wgt = (
                F.when(F.col("prev").isNull(), F.lit(1.0))
                .when(F.col(DST) == F.col("prev"),
                      F.lit(1.0 / cfg.return_factor))
                .when(F.col("_adj"), F.lit(1.0))
                .otherwise(F.lit(1.0 / cfg.in_out_factor))
            )
            u = (F.pmod(F.col("_h"), F.lit(M)).cast("double") + F.lit(0.5)) / F.lit(float(M))
            nxt = nxt.withColumn("_rk", -F.log(u) / wgt)
        else:
            nxt = nxt.withColumn("_rk", F.col("_h"))  # long order, no cast
        picked = (
            nxt.groupBy("walk_id")
            .agg(F.min_by(F.col(DST), F.col("_rk")).alias("cur"),
                 F.first("start").alias("start"),
                 F.first(SRC).alias("prev"))
            .transform(truncate_mem)
        )
        if picked.count() == 0:
            break
        paths.append(picked.select("walk_id", "start", F.lit(step).alias("step"),
                                   F.col("cur").alias("node")))
        frontier = picked
    edges.unpersist()
    out = paths[0]
    for p in paths[1:]:
        out = out.unionByName(p)
    return out


@dataclass
class Node2VecConfig:
    embedding_dim: int = 64
    walk_length: int = 10
    walks_per_node: int = 2
    window_size: int = 5
    iterations: int = 1
    min_count: int = 0
    seed: int = 42
    return_factor: float = 1.0    # p (node2vec second-order bias)
    in_out_factor: float = 1.0    # q
    # --- native SGNS surface (Node2VecBaseConfig.java:32-77 defaults),
    # honored by trainer="native"; spark.ml Word2Vec fixes these
    # internally (negative sampling 5, 1e-3-style subsampling) ----------
    negative_sampling_rate: int = 5          # negatives per positive
    positive_sampling_factor: float = 0.001  # frequent-occurrence subsample
    negative_sampling_exponent: float = 0.75 # neg distribution ~ freq^exp
    initial_learning_rate: float = 0.025
    min_learning_rate: float = 0.0001
    embedding_initializer: str = "normalized"  # or "uniform"
    # "word2vec": spark.ml's distributed SGD (the at-scale path).
    # "native": reference-parameter SGNS numpy kernel over the collected
    # walk corpus (the reference is itself a single-JVM array trainer) --
    # guarded by max_corpus_size.
    trainer: str = "word2vec"
    max_corpus_size: int = 20_000_000        # walk positions pulled to driver


def _positive_keep_probs(freq_counts: "np.ndarray", sample_count: int,
                         factor: float) -> "np.ndarray":
    """Per-node positive-sample keep probability
    (RandomWalkProbabilitiesBuilder.java:92):
    (sqrt(f / factor) + 1) * (factor / f) with f the node's occurrence
    fraction over the walk corpus; >= 1 means always kept."""
    f = freq_counts.astype(float) / max(sample_count, 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        p = (np.sqrt(f / factor) + 1.0) * (factor / f)
    p[~np.isfinite(p)] = 1.0   # zero-frequency nodes never sampled anyway
    return p


def _negative_cumdist(freq_counts: "np.ndarray",
                      exponent: float) -> "np.ndarray":
    """Cumulative negative-sampling distribution ~ freq^exponent
    (RandomWalkProbabilitiesBuilder.java:100-110,
    NegativeSampleProducer.java:41 draws by binary search over it)."""
    return np.cumsum(np.power(freq_counts.astype(float), exponent))


def _sgns_train(corpus: list[list[int]], cfg: Node2VecConfig) -> dict:
    """Reference-semantics skip-gram-negative-sampling over the walk
    corpus (Node2VecModel.java:122 train loop, TrainingTask.java:63,
    PositiveSampleProducer.java window/subsampling): frequency-based
    positive subsampling, freq^exponent negative draws,
    negative_sampling_rate negatives per positive, linear learning-rate
    decay across iterations, separate center/context tables with the
    center table returned, asymmetric window (prefix ceil((w-1)/2),
    postfix (w-1)//2).

    Documented divergence (engine-class, quality-pinned by tests):
    updates apply in vectorized numpy minibatches instead of per-sample
    sequential SGD, and draws come from numpy's seeded generator instead
    of per-task SplittableRandoms."""
    ids = sorted({n for walk in corpus for n in walk})
    pos_of = {n: i for i, n in enumerate(ids)}
    n = len(ids)
    if n == 0:
        return {}
    counts = np.zeros(n, dtype="int64")
    for walk in corpus:
        for w in walk:
            counts[pos_of[w]] += 1
    sample_count = int(counts.sum())
    keep = _positive_keep_probs(counts, sample_count,
                                cfg.positive_sampling_factor)
    cum = _negative_cumdist(counts, cfg.negative_sampling_exponent)
    rng = np.random.default_rng(cfg.seed)
    d = cfg.embedding_dim
    bound = 1.0 if cfg.embedding_initializer == "uniform" else 0.5 / d
    center = rng.uniform(-bound, bound, (n, d))
    context = rng.uniform(-bound, bound, (n, d))
    prefix = -(-(cfg.window_size - 1) // 2)
    postfix = (cfg.window_size - 1) // 2

    def pairs_for_iteration():
        cs, xs = [], []
        for walk in corpus:
            w = np.array([pos_of[x] for x in walk], dtype="int64")
            kept = w[rng.random(len(w)) < keep[w]]
            if len(kept) < 2:
                continue
            for c in range(len(kept)):
                lo, hi = max(0, c - prefix), min(len(kept), c + postfix + 1)
                for x in range(lo, hi):
                    if x != c:
                        cs.append(kept[c])
                        xs.append(kept[x])
        return np.array(cs, dtype="int64"), np.array(xs, dtype="int64")

    def sigmoid(x):
        return 1.0 / (1.0 + np.exp(-np.clip(x, -30, 30)))

    lr_alpha = ((cfg.initial_learning_rate - cfg.min_learning_rate)
                / max(cfg.iterations, 1))
    chunk = 8192
    for it in range(cfg.iterations):
        lr = max(cfg.min_learning_rate,
                 cfg.initial_learning_rate - it * lr_alpha)
        cs, xs = pairs_for_iteration()
        for s in range(0, len(cs), chunk):
            c, x = cs[s:s + chunk], xs[s:s + chunk]
            # positive step: push sigma(center . context) toward 1
            g = 1.0 - sigmoid((center[c] * context[x]).sum(axis=1))
            dc = lr * g[:, None] * context[x]
            dx = lr * g[:, None] * center[c]
            np.add.at(center, c, dc)
            np.add.at(context, x, dx)
            # negative_sampling_rate negatives per positive, drawn from
            # the freq^exponent distribution (searchsorted == the
            # reference's binarySearch over the cumulative array)
            draws = rng.integers(0, int(cum[-1]),
                                 size=(len(c), cfg.negative_sampling_rate))
            negs = np.searchsorted(cum, draws, side="right")
            for q in range(cfg.negative_sampling_rate):
                nn = negs[:, q]
                sg = sigmoid((center[c] * context[nn]).sum(axis=1))
                np.add.at(center, c, -lr * sg[:, None] * context[nn])
                np.add.at(context, nn, -lr * sg[:, None] * center[c])
    return {ids[i]: center[i] for i in range(n)}


def node2vec(graph: SparkGraph, config: Node2VecConfig | None = None) -> DataFrame:
    """(id, embedding: array<double>): full node2vec = hash-deterministic
    walks (p/q second-order bias via return_factor/in_out_factor; GDS
    default p=q=1 is the uniform fast path) fed into SGNS training --
    the training stage of embeddings/node2vec/Node2Vec.java:39.

    Two trainers:
    * ``trainer="word2vec"`` (default): Spark ML's Word2Vec, distributed
      by its own partitioned SGD -- the at-scale path. Its negative-
      sampling/subsampling scheme is internal, so the native-parameter
      knobs are ignored here.
    * ``trainer="native"``: the reference's own parameter surface
      (negativeSamplingRate / positiveSamplingFactor /
      negativeSamplingExponent / initial+min learning rate /
      embeddingInitializer, Node2VecBaseConfig.java:32-77) via the
      _sgns_train numpy kernel over the collected corpus (the reference
      is likewise a single-process array trainer), guarded by
      max_corpus_size.

    Exact float values vary with scheduling/backend, so tests assert
    embedding QUALITY (same-community similarity), like the reference's
    own node2vec tests."""
    from pyspark.ml.feature import Word2Vec

    cfg = config or Node2VecConfig()
    walks = random_walks(graph, RandomWalkConfig(
        walk_length=cfg.walk_length, walks_per_node=cfg.walks_per_node,
        seed=cfg.seed, return_factor=cfg.return_factor,
        in_out_factor=cfg.in_out_factor))
    if cfg.trainer == "native":
        spark = graph.nodes.sparkSession
        n_positions = walks.count()
        if n_positions > cfg.max_corpus_size:
            raise ValueError(
                f"node2vec native trainer: walk corpus has {n_positions} "
                f"positions (> max_corpus_size={cfg.max_corpus_size}); "
                "use trainer='word2vec' (distributed) or raise the guard")
        sent_rows = (
            walks.groupBy("walk_id")
            .agg(F.array_sort(F.collect_list(F.struct("step", "node")))
                 .alias("_sn"))
            .select(F.col("_sn.node").alias("sent")).collect()
        )
        emb = _sgns_train([list(r["sent"]) for r in sent_rows], cfg)
        if not emb:
            return spark.createDataFrame(
                [], "id long, embedding array<double>")
        return spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in emb.items()],
            "id long, embedding array<double>")
    if cfg.trainer != "word2vec":
        raise ValueError(f"unknown trainer {cfg.trainer!r}: expected "
                         "'word2vec' or 'native'")
    sents = (
        walks.groupBy("walk_id")
        .agg(F.array_sort(F.collect_list(F.struct("step", "node"))).alias("_sn"))
        .select(F.transform("_sn.node", lambda x: x.cast("string")).alias("sent"))
    )
    w2v = Word2Vec(
        vectorSize=cfg.embedding_dim, windowSize=cfg.window_size,
        maxIter=cfg.iterations, minCount=cfg.min_count, seed=cfg.seed,
        inputCol="sent", outputCol="_vec",
    )
    model = w2v.fit(sents)
    from pyspark.ml.functions import vector_to_array

    return model.getVectors().select(
        F.col("word").cast("long").alias("id"),
        vector_to_array("vector").cast("array<double>").alias("embedding"),
    )


@dataclass
class HashGNNConfig:
    embedding_density: int = 16   # K: min-hash selections per iteration
    iterations: int = 2
    feature_dim: int = 64         # binary feature space
    init_density: int = 4         # active features per node at init
    neighbor_influence: float = 1.0
    seed: int = 42
    # "xxhash64" (default) or "md5" (60-bit md5-prefix ints everywhere the
    # xxhash64 family is used; byte-identical across engines => the full
    # binary embedding is DuckDB-verifiable, like FastRP/minhash md5 modes).
    hash_mode: str = "xxhash64"


def hashgnn(graph: SparkGraph, config: HashGNNConfig | None = None,
            features: DataFrame | None = None) -> DataFrame:
    """(id, embedding: array<long>): HashGNN binary embeddings
    (reference embeddings/hashgnn/HashGNN.java:47 -- message passing where
    each of K rounds' "aggregation" is a min-hash selection over the
    union of own and neighbor binary features; neighborInfluence scales
    the neighbor hash range).

    Deterministic Spark formulation: features are (id, f) rows; one
    iteration = explode K hash slots, take min_by(feature, key) per
    (node, slot) over self-candidates (key = u_self(f, k)) and
    neighbor-candidates (key = u_nbr(f, k) / neighborInfluence), then
    distinct. All hash-derived -- identical on any cluster size.

    `features` optionally provides initial binary features as (id, f int);
    default init hashes each node into `init_density` of `feature_dim` bits.
    """
    cfg = config or HashGNNConfig()
    if cfg.hash_mode == "md5":
        h64 = lambda *cols: F.conv(
            F.substring(
                F.md5(F.concat_ws(":", *[c.cast("string") if hasattr(c, "cast")
                                         else F.col(c).cast("string")
                                         for c in cols])),
                1, 15),
            16, 10).cast("long")
    else:
        h64 = F.xxhash64
    if features is None:
        feats = graph.nodes.select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(cfg.init_density - 1))).alias("_j"),
        ).select(
            "id",
            F.pmod(h64("id", "_j", F.lit(cfg.seed)),
                   F.lit(cfg.feature_dim)).alias("f"),
        ).distinct()
    else:
        feats = features.select("id", F.col("f").cast("long")).distinct()
    feats = feats.transform(truncate_mem)
    edges = graph.oriented_edges("UNDIRECTED").select(SRC, DST) \
        .distinct().transform(truncate_mem)

    def ukey(*cols):
        return (F.pmod(h64(*cols), F.lit(1_000_000_007)).cast("double")
                + 0.5) / 1_000_000_007.0

    ks = F.explode(F.sequence(F.lit(0), F.lit(cfg.embedding_density - 1))).alias("k")
    for it in range(cfg.iterations):
        own = feats.select("id", "f", ks).select(
            "id", "k", "f",
            ukey("f", "k", F.lit(cfg.seed * 31 + it)).alias("_key"))
        nbr = (
            edges.join(feats.withColumnRenamed("id", SRC), SRC)
            .select(F.col(DST).alias("id"), "f", ks)
            .select("id", "k", "f",
                    (ukey("f", "k", F.lit(cfg.seed * 37 + it))
                     / F.lit(max(cfg.neighbor_influence, 1e-9))).alias("_key"))
        )
        feats = (
            own.unionByName(nbr)
            .groupBy("id", "k")
            .agg(F.min_by("f", "_key").alias("f"))
            .select("id", "f").distinct()
            .transform(truncate_mem)
        )
    return feats.groupBy("id").agg(
        F.array_sort(F.collect_set("f")).alias("embedding"))
