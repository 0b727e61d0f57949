"""Vector clustering over node properties: K-means (and its GDS result
shape: communityId + distanceFromCentroid + optional silhouette).

Reference: kmeans/Kmeans.java:41 -- Lloyd iterations over a node property
of type float array, with K-means|| init and per-node distance results
(KmeansResult: communities, distances, centers, optional silhouette).
Spark-first: delegate the Lloyd loop to spark.ml.clustering.KMeans (JVM,
DataFrame-native, one pass per iteration) instead of re-implementing it,
then derive distances/silhouette as Catalyst expressions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import SparkGraph
from ..plans.checkpoint import truncate_mem


@dataclass
class KmeansConfig:
    k: int = 10
    max_iterations: int = 20
    seed: int = 42
    compute_silhouette: bool = False


def kmeans(vectors: DataFrame, config: KmeansConfig | None = None,
           id_col: str = "id", vec_col: str = "embedding") -> DataFrame:
    """(id, community, distance_from_centroid [, silhouette]).

    `vectors` is any (id, array<numeric>) DataFrame -- a node property,
    FastRP/node2vec output, or the embeddings table.
    """
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    cfg = config or KmeansConfig()
    feat = vectors.select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features"),
    )
    model = MLKMeans(
        k=cfg.k, maxIter=cfg.max_iterations, seed=cfg.seed,
        featuresCol="_features", predictionCol="community",
    ).fit(feat)
    pred = model.transform(feat)

    centers = feat.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "community int, _center array<double>",
    )
    dist = F.sqrt(F.aggregate(
        F.zip_with(vector_to_array("_features"), F.col("_center"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    ))
    out = (
        pred.join(F.broadcast(centers), "community")
        .select("id", F.col("community").cast("long").alias("community"),
                dist.alias("distance_from_centroid"))
    )
    if not cfg.compute_silhouette:
        return out
    # simplified silhouette (centroid-based, as in GDS's optional variant):
    # b = distance to nearest OTHER centroid, a = distance to own centroid
    other = (
        pred.join(F.broadcast(centers.withColumnRenamed("community", "_oc")))
        .filter(F.col("_oc") != F.col("community"))
        .select("id", dist.alias("_od"))
        .groupBy("id").agg(F.min("_od").alias("_b"))
    )
    return (
        out.join(other, "id", "left")
        .select(
            "id", "community", "distance_from_centroid",
            ((F.col("_b") - F.col("distance_from_centroid"))
             / F.greatest(F.col("_b"), F.col("distance_from_centroid")))
            .alias("silhouette"),
        )
    )


def lloyd_kmeans(vectors: DataFrame, k: int = 4, iterations: int = 5,
                 id_col: str = "id", vec_col: str = "embedding") -> DataFrame:
    """(id, community, distance_from_centroid): DETERMINISTIC Lloyd K-means
    (kmeans/Kmeans.java:41 Lloyd loop with a pinned init instead of
    K-means||): centroids start as the vectors of the k smallest ids,
    assignment tie-break is the lowest centroid index, and the iteration
    count is fixed -- so the whole clustering is value-exactly replicable
    in any SQL engine (the DuckDB oracle unrolls the same rounds).
    kmeans() (spark.ml, K-means|| init) remains the production path; this
    variant exists for oracle-verifiable correctness evidence and as a
    pure-DataFrame reference implementation.

    Plan shape: per round, one crossJoin against the k-row centroid table
    (broadcast -- k is tiny) + a min_by argmin, then a posexplode groupBy
    to re-average centroids; all JVM-side, no Python in the loop."""
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).transform(truncate_mem)
    final, _cent = lloyd_loop(v, k, iterations)
    return final.select(
        "id", "community", F.sqrt("_d2").alias("distance_from_centroid"))


def lloyd_loop(v: DataFrame, k: int,
               iterations: int) -> "tuple[DataFrame, DataFrame]":
    """The deterministic Lloyd loop over a prepared (id, vec) DataFrame
    (``vec`` array<double>, already materialized). Returns
    ``(assign, centroids)``: assign = (id, community, _d2 squared distance),
    centroids = (community, cvec) AFTER the final update -- the table the
    final assignment was computed against. Shared by ``lloyd_kmeans`` and
    the IVF coarse quantizer (operators/ann.ivf_index)."""
    from pyspark.sql.window import Window

    cent = (
        v.orderBy("id").limit(k)
        .select((F.row_number().over(Window.orderBy("id")) - 1)
                .cast("long").alias("community"),
                F.col("vec").alias("cvec"))
        .transform(truncate_mem)
    )
    d2 = F.aggregate(
        F.zip_with("vec", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )

    def assign(cent_df: DataFrame) -> DataFrame:
        return (
            v.crossJoin(F.broadcast(cent_df))
            .withColumn("_d2", d2)
            .groupBy("id")
            .agg(F.min_by(F.struct("community", "_d2"),
                          F.struct("_d2", "community")).alias("_best"))
            .select("id", F.col("_best.community").alias("community"),
                    F.col("_best._d2").alias("_d2"))
        )

    for _ in range(iterations):
        a = assign(cent)
        newc = (
            a.join(v, "id")
            .select("community", F.posexplode("vec").alias("pos", "x"))
            .groupBy("community", "pos").agg(F.avg("x").alias("x"))
            .groupBy("community")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "x"))).alias("_px"))
            .select("community", F.col("_px.x").alias("_nvec"))
        )
        # an emptied cluster keeps its previous centroid
        cent = (
            cent.join(newc, "community", "left")
            .select("community", F.coalesce("_nvec", "cvec").alias("cvec"))
            .transform(truncate_mem)
        )
    final = assign(cent)
    return final, cent


@dataclass
class HdbscanConfig:
    min_pts: int = 5             # core-distance neighbor count
    knn_k: int = 15              # candidate-edge pool per point
    cut_distance: float = 1.0    # flat extraction level (eps mode)
    min_cluster_size: int = 5
    nn_iterations: int = 3
    extraction: str = "eps"      # "eps" | "stability" (excess-of-mass)
    allow_single_cluster: bool = False
    # Stability extraction is a driver post-pass over the O(V) MST (the
    # reference's dendrogram walk is sequential too); this guard makes an
    # oversized collect a clear error instead of a driver OOM.
    max_collected_mst_edges: int = 2_000_000
    # "xxhash64" (default) or "md5": forwarded to the NN-Descent candidate
    # stage so the whole eps-mode pipeline is DuckDB-replayable
    hash_mode: str = "xxhash64"


def _stability_extract(ids: list, mst: list, min_cluster_size: int,
                       allow_single_cluster: bool) -> dict:
    """Condensed-tree excess-of-mass extraction: single-linkage dendrogram
    over the MST, condense with min_cluster_size, select the clusters
    maximizing total stability sum(lambda_fall - lambda_birth)
    (hdbscan/HDBScan.java condensed-tree + stability selection). Driver
    post-pass over the O(V) MST; everything upstream stays distributed."""
    mcs = max(min_cluster_size, 2)
    n = len(ids)
    if n == 0:
        return {}
    idx = {v: i for i, v in enumerate(ids)}
    edges = sorted((float(w), idx[a], idx[b]) for a, b, w in mst)

    # single-linkage dendrogram via union-find (leaves 0..n-1)
    root = list(range(n))

    def find(x: int) -> int:
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    comp_node = list(range(n))
    left: dict[int, int] = {}
    right: dict[int, int] = {}
    dist: dict[int, float] = {}
    size: dict[int, int] = {i: 1 for i in range(n)}
    nxt = n
    for w, a, b in edges:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        node = nxt
        nxt += 1
        left[node], right[node] = comp_node[ra], comp_node[rb]
        dist[node] = w
        size[node] = size[comp_node[ra]] + size[comp_node[rb]]
        root[rb] = ra
        comp_node[ra] = node
    roots = {comp_node[find(i)] for i in range(n)}

    def leaves_of(node: int):
        st = [node]
        while st:
            x = st.pop()
            if x < n:
                yield x
            else:
                st.append(left[x])
                st.append(right[x])

    # condensed tree
    birth: dict[int, float] = {}
    parentc: dict[int, int | None] = {}
    childrenc: dict[int, list[int]] = {}
    falls: list[tuple[int, int, float]] = []   # (leaf, cluster, lambda)
    noise: list[int] = []
    cid = 0
    stack: list[tuple[int, int]] = []
    roots_big = [r for r in sorted(roots) if size[r] >= mcs]
    for r in sorted(roots):
        if size[r] < mcs:
            noise.extend(leaves_of(r))
    if len(roots_big) == 1:
        birth[cid], parentc[cid], childrenc[cid] = 0.0, None, []
        stack.append((roots_big[0], cid))
        cid += 1
    elif roots_big:
        # disconnected mutual-reachability graph: components join under a
        # virtual root at lambda -> 0 (dist = inf), so each component is a
        # selectable child cluster, not an unselectable root
        birth[cid], parentc[cid], childrenc[cid] = 0.0, None, []
        vroot = cid
        cid += 1
        for r in roots_big:
            birth[cid], parentc[cid], childrenc[cid] = 0.0, vroot, []
            childrenc[vroot].append(cid)
            stack.append((r, cid))
            cid += 1
    while stack:
        node, c = stack.pop()
        l, r_ = left[node], right[node]
        lam = 1.0 / max(dist[node], 1e-12)
        big = [ch for ch in (l, r_) if size[ch] >= mcs]
        if len(big) == 2:
            for ch in (l, r_):
                birth[cid], parentc[cid], childrenc[cid] = lam, c, []
                childrenc[c].append(cid)
                stack.append((ch, cid))
                cid += 1
        else:
            for ch in (l, r_):
                if size[ch] >= mcs:
                    stack.append((ch, c))
                else:
                    falls.extend((p, c, lam) for p in leaves_of(ch))

    stability = {c: 0.0 for c in birth}
    for _, c, lam in falls:
        stability[c] += lam - birth[c]

    # excess-of-mass selection, children first
    shat: dict[int, float] = {}
    selected: dict[int, bool] = {}
    for c in sorted(birth, reverse=True):
        s_children = sum(shat[ch] for ch in childrenc[c])
        root_cluster = parentc[c] is None
        if childrenc[c] and (s_children > stability[c]
                             or (root_cluster and not allow_single_cluster)):
            shat[c], selected[c] = s_children, False
        elif root_cluster and not allow_single_cluster:
            shat[c], selected[c] = stability[c], False
        else:
            shat[c], selected[c] = stability[c], True

    # topmost selected cluster on each root->c path wins
    assigned: dict[int, int | None] = {}
    for c in sorted(birth):
        p = parentc[c]
        up = assigned.get(p) if p is not None else None
        assigned[c] = up if up is not None else (c if selected[c] else None)
    label_ids = sorted({a for a in assigned.values() if a is not None})
    renum = {c: i for i, c in enumerate(label_ids)}
    out = {ids[p]: -1 for p in noise}
    for p, c, _ in falls:
        a = assigned[c]
        out[ids[p]] = renum[a] if a is not None else -1
    return out


def hdbscan(vectors: DataFrame, config: HdbscanConfig | None = None,
            id_col: str = "id", vec_col: str = "embedding") -> DataFrame:
    """(id, cluster): density clustering over a vector column
    (hdbscan/HDBScan.java:32). Pipeline, each stage a distributed operator:

      1. kNN graph (NN-Descent over euclidean distance) -- candidate pool;
      2. core distance = distance to the min_pts-th neighbor;
      3. mutual-reachability weights mr(a,b) = max(core_a, core_b, d(a,b))
         on the kNN candidate edges (the standard scalable approximation of
         the all-pairs mutual-reachability graph);
      4. minimum spanning tree over those weights (Boruvka,
         operators/spanningtree);
      5. extraction -- either
         * "eps": cut MST edges above cut_distance, clusters = remaining
           components, small components become noise (cluster = -1), all
           distributed; or
         * "stability": the reference's condensed-tree excess-of-mass
           selection (_stability_extract), a driver post-pass over the
           O(V) MST -- no cut level needed.
    """
    from ..catalog import DST, SRC, SparkGraph, W
    from .spanningtree import spanning_tree
    from .wcc import WccConfig, wcc

    cfg = config or HdbscanConfig()
    pts = vectors.select(F.col(id_col).alias("id"),
                         F.col(vec_col).cast("array<double>").alias("_v"))
    pts = truncate_mem(pts)

    # kNN by euclidean distance: NN-Descent's refinement loop with its
    # euclidean SimilarityComputer (the distances it returns are exact for
    # the candidate pairs it keeps)
    from .ann import nn_descent_topk

    scored = nn_descent_topk(
        pts.select(F.col("id").alias("vec_id"), F.col("_v").alias("embedding")),
        k=max(cfg.knn_k, cfg.min_pts), iterations=cfg.nn_iterations,
        metric="euclidean", hash_mode=cfg.hash_mode,
    ).select(F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"),
             F.col("distance").alias("d"))
    # connectivity backbone: consecutive points in (partition-parallel)
    # dense-id order, with EXACT distances. Guarantees the mutual-
    # reachability graph is connected, so the dendrogram has one true root
    # (like the reference's complete-graph MST) instead of per-component
    # roots the stability extraction can't rank; within dense regions the
    # real kNN edges dominate the MST anyway.
    from ..catalog import bucketed_dense_ids

    seq = bucketed_dense_ids(pts.select(F.col("id").alias("_pid")), ["_pid"],
                             F.floor(F.col("_pid") / F.lit(65536)))
    backbone_pairs = (
        seq.select(F.col("id").alias("_k"), F.col("_pid").alias("a"))
        .join(seq.select((F.col("id") - 1).alias("_k"),
                         F.col("_pid").alias("b")), "_k")
        .select("a", "b")
    )
    bdist = F.sqrt(F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    backbone = (
        backbone_pairs
        .join(pts.select(F.col("id").alias("a"), F.col("_v").alias("_qv")), "a")
        .join(pts.select(F.col("id").alias("b"), F.col("_v").alias("_cv")), "b")
        .select("a", "b", bdist.alias("d"))
    )
    scored = truncate_mem(scored.unionByName(backbone))

    from pyspark.sql.window import Window

    win = Window.partitionBy("a").orderBy(F.col("d").asc(), F.col("b").asc())
    ranked = scored.withColumn("_rn", F.row_number().over(win))
    core = (
        ranked.filter(F.col("_rn") <= cfg.min_pts)
        .groupBy("a").agg(F.max("d").alias("core"))
        .withColumnRenamed("a", "id")
    )
    mr = (
        scored.join(core.select(F.col("id").alias("a"),
                                F.col("core").alias("_ca")), "a")
        .join(core.select(F.col("id").alias("b"), F.col("core").alias("_cb")), "b")
        .select(
            F.least("a", "b").alias(SRC), F.greatest("a", "b").alias(DST),
            F.greatest("d", "_ca", "_cb").alias(W),
        )
        .groupBy(SRC, DST).agg(F.min(W).alias(W))
        .select(SRC, DST, F.lit("MR").alias("rel_type"), W)
    )
    g = SparkGraph(nodes=pts.select("id"), edges=mr)
    tree = spanning_tree(g)
    if cfg.extraction == "stability":
        # driver collects ONLY the O(V) MST edge list (leaf ids derive from
        # it -- the backbone keeps the MR graph connected, so every point
        # with >=2 peers appears); points absent from the MST (singleton
        # inputs) come back as noise via the distributed left join below.
        n_mst = tree.count()
        if n_mst > cfg.max_collected_mst_edges:
            raise ValueError(
                f"hdbscan stability extraction would collect {n_mst} MST "
                f"edges to the driver (> max_collected_mst_edges="
                f"{cfg.max_collected_mst_edges}); use extraction='eps' at "
                "this scale or raise the guard explicitly"
            )
        mst = [(r[SRC], r[DST], r[W]) for r in tree.collect()]
        ids = sorted({s for s, _, _ in mst} | {d for _, d, _ in mst})
        labels = _stability_extract(ids, mst, cfg.min_cluster_size,
                                    cfg.allow_single_cluster)
        spark = vectors.sparkSession
        lab_df = spark.createDataFrame(
            [(int(i), int(labels.get(i, -1))) for i in ids],
            "id long, cluster long",
        )
        return (
            pts.select("id").join(lab_df, "id", "left")
            .select("id", F.coalesce("cluster", F.lit(-1)).alias("cluster"))
        )
    kept = tree.filter(F.col(W) <= cfg.cut_distance)
    comp = wcc(SparkGraph(
        nodes=pts.select("id"),
        edges=kept.select(SRC, DST, F.lit("T").alias("rel_type"), W),
    ), WccConfig()).state
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_sz"))
    return (
        comp.join(sizes, "component")
        .select(
            "id",
            F.when(F.col("_sz") >= cfg.min_cluster_size, F.col("component"))
            .otherwise(F.lit(-1)).alias("cluster"),
        )
    )
