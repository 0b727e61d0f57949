"""Approximate nearest neighbor search over embedding columns.

Build-brief set: brute-force cosine top-k as the exact baseline, an
LSH-bucketed variant (random hyperplane signs) as a scale path,
embedding-cosine near-duplicate pairs (exact + banded-LSH), and a
synchronous NN-Descent (`nn_descent_topk`) matching GDS KNN
(similarity/knn/Knn.java:38): random-bucket init, then rounds of
neighbor-of-neighbor proposals -- the async shared-state variant's
semantics, expressed as BSP joins.

Dot products are Catalyst expressions (zip_with + aggregate) -- JVM-side,
codegen'd; no Python. Brute force is a broadcast of the (small) query set
against the corpus: O(|Q| * N) with no shuffle of the corpus. The LSH
variant buckets both sides by signature so only same-bucket pairs are
scored: the classic recall/cost dial.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import register_cache
from ..functions.vector import cosine, euclidean_distance
from ..plans.checkpoint import truncate_mem


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    source_filter: str | None = None,
    target_filter: str | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine): exact top-k per query.

    queries is broadcast (keep it small); corpus is scanned once.
    Deterministic tie-break: (cosine desc, neighbor_id asc).

    ``source_filter`` / ``target_filter`` are SQL predicates over the
    pseudo-column ``node`` (e.g. "node % 2 = 0"), the exact counterpart of
    the reference's filtered KNN (similarity/filteredknn/
    FilteredKnn.java): sources are restricted before the scan, targets
    before the per-source top-k, so each surviving source still gets its k
    nearest MATCHING targets."""
    from ..catalog import bind_node_filter

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    q = bind_node_filter(q, source_filter, "query_id")
    c = bind_node_filter(c, target_filter, "neighbor_id")
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (hash-based, no RNG state)."""
    planes = []
    for p in range(n_planes):
        v = []
        for i in range(dim):
            # xorshift-style integer hash -> [-1, 1)
            x = (p * 1_000_003 + i * 7919 + seed) & 0xFFFFFFFF
            x ^= x >> 13
            x = (x * 0x5BD1E995) & 0xFFFFFFFF
            x ^= x >> 15
            v.append((x / 2**31) - 1.0)
        n = math.sqrt(sum(a * a for a in v)) or 1.0
        planes.append([a / n for a in v])
    return planes


def _band_codes_udf(planes: list[list[float]], bands: int):
    """Arrow-batched signature kernel shared by the LSH paths: one numpy
    matmul (n x dim) @ (dim x bands*r) -> sign bits -> per-band integer
    codes (array<long>, one code per band). Bit i of a band code is plane
    i of that band, so bucketing by code is exactly bucketing by the sign
    pattern. Sign determinism: float64 dots; a bit can differ from a
    sequential-sum replay only when |dot| sits within rounding error of 0
    -- measure-zero for seed-fixed planes (the DuckDB oracles replay both
    LSH surfaces value-exactly).

    Callers must pre-filter NULL / wrong-length vectors (np.stack would
    raise on a ragged batch, failing the whole job where the round-3
    Catalyst expressions produced a NULL signature that just dropped out
    of the bucket join) -- use _valid_vectors."""
    P = np.asarray(planes, dtype=np.float64).T
    r = len(planes) // bands
    pw = (1 << np.arange(r)).astype(np.int64)
    n_bands = bands

    @F.pandas_udf("array<long>")
    def band_codes(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        B = (X @ P >= 0).astype(np.int64)
        codes = B.reshape(len(X), n_bands, -1) @ pw
        return pd.Series(list(codes))

    return band_codes


def _valid_vectors(df: DataFrame, vec_col, dim: int) -> DataFrame:
    """Drop rows whose vector is NULL, not exactly ``dim`` long, or
    contains null ELEMENTS -- matching the round-3 behavior where such
    rows hashed to a NULL signature and fell out of the equi-join,
    instead of crashing the Arrow batch (NULL/ragged) or hashing a
    NaN-garbage signature (null element)."""
    c = F.col(vec_col)
    return df.filter(c.isNotNull() & (F.size(c) == dim)
                     & ~F.exists(c, lambda x: x.isNull()))


def _probe_dim(corpus: DataFrame, vec_col: str) -> int | None:
    """Modal vector length over the corpus (nulls ignored): robust to a
    NULL or ragged FIRST row, which a bare ``len(first()[0])`` is not.
    Returns None when no non-null vector exists.

    NULL and EMPTY rows are filtered BEFORE the mode aggregate rather
    than relying on size(NULL)=NULL: under spark.sql.ansi.enabled=false
    (legacy sizeOfNull) size(NULL) is -1, and a NULL-plurality corpus
    would otherwise yield modal dim -1; likewise an empty-array
    plurality (failed upstream featurization) would yield modal dim 0 --
    either way silently dropping every valid vector."""
    row = (corpus.filter(F.col(vec_col).isNotNull()
                         & (F.size(F.col(vec_col)) > 0))
           .agg(F.mode(F.size(F.col(vec_col)))).collect()[0])
    if row[0] is None or int(row[0]) <= 0:
        return None
    return int(row[0])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signature buckets, exact cosine
    within bucket. Recall < 1; cost ~ N/2^planes per bucket. ``dim``
    defaults to the corpus's modal vector length; rows of any other
    length (and null-element vectors) are dropped from both sides."""
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
        if dim is None:
            return (corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double"))
    planes = _hyperplanes(dim, n_planes)
    codes = _band_codes_udf(planes, bands=1)   # one band: the full signature

    c = _valid_vectors(corpus, vec_col, dim) \
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")) \
        .withColumn("_sig", codes(F.col("_cv")).getItem(0))
    q = _valid_vectors(queries, vec_col, dim) \
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")) \
        .withColumn("_sig", codes(F.col("_qv")).getItem(0))
    scored = (
        c.join(q, "_sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("cosine"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    bands: int = 8,
    planes_per_band: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cosine): pairs above threshold, a < b.

    method="lsh" (default, the scale path): banded random-hyperplane
    prefilter -- two vectors are candidates iff ALL planes of at least one
    band agree on sign; candidates are then scored exactly. With b bands of
    r planes, a pair at angle theta survives with prob
    1-(1-(1-theta/pi)^r)^b. Default 8x8: recall ~0.99 at cosine 0.95,
    ~0.94 at 0.90, while an UNCORRELATED pair (cosine ~0, the bulk of any
    large corpus) collides with prob 1-(1-0.5^8)^8 ~ 3% -- the round-3
    default (4 bands x 4 planes) let ~23% of random pairs through
    (0.5^4 x 4 bands), which made the exact-verify stage quadratic-ish on
    isotropic data. The bucket join never materializes the full pair
    space either way; band shape only tunes the verifier's load.

    method="exact": all-pairs O(N^2) scoring -- the oracle/verifier path,
    and the within-bucket scorer the LSH path reuses.
    """
    a = corpus.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
    if method == "exact":
        return (
            a.join(b, F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b",
                    cosine(F.col("_va"), F.col("_vb")).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )

    if dim is None:
        dim = _probe_dim(corpus, vec_col)
        if dim is None:
            return (corpus.sparkSession.createDataFrame(
                [], "vec_a long, vec_b long, cosine double"))
    planes = _hyperplanes(dim, bands * planes_per_band, seed)
    spark = corpus.sparkSession

    # ALL band signatures in ONE Arrow pass (shared kernel: see
    # _band_codes_udf). The round-3 shape (broadcast plane table +
    # per-(row, plane) higher-order zip_with/aggregate) amplified every
    # vector bands*r-fold through the join and evaluated the dot products
    # with non-codegen lambda interpreters; the numpy matmul is the
    # vectorized kernel the Python boundary exists for.
    band_codes = _band_codes_udf(planes, bands)

    # persisted: both sides of the bucket self-join reference band_sig;
    # without the cache the signature matmul runs twice
    band_sig = (
        _valid_vectors(corpus, vec_col, dim)
        .select(F.col(id_col).alias("_id"),
                band_codes(F.col(vec_col)).alias("_codes"))
        .select("_id", F.posexplode("_codes").alias("band", "_sig"))
    ).persist()
    register_cache(band_sig)
    cand = (
        band_sig.select(F.col("_id").alias("vec_a"), "band", "_sig")
        .join(band_sig.select(F.col("_id").alias("vec_b"), "band", "_sig"),
              ["band", "_sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "vec_a").join(vb, "vec_b")
        .select("vec_a", "vec_b",
                cosine(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def nn_descent_topk(
    corpus: DataFrame,
    k: int = 10,
    iterations: int = 3,
    init_buckets: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    metric: str = "cosine",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(query_id, neighbor_id, cosine | distance): approximate k-NN graph via
    NN-Descent (reference similarity/knn/Knn.java:38 -- random init, then
    iterative refinement through neighbors-of-neighbors, the 'a neighbor of
    my neighbor is probably my neighbor' principle).

    hash_mode: "xxhash64" (default; fast JVM int64 hash for the init
    bucketing) or "md5" (60-bit int from the md5 hex prefix -- byte-identical
    in any engine with a standard md5, which makes the entire refinement
    trajectory DuckDB-replayable; same parity trick as fast_rp/minhash).

    Spark formulation: the k-NN state is a (query_id, neighbor_id) edge
    DataFrame. Init pairs nodes within hash buckets (deterministic stand-in
    for Knn's random sampling); each refinement round proposes the join of
    the k-NN list with itself AND its reverse (neighbor-of-neighbor in both
    directions), scores proposals exactly, and keeps the top k per node --
    candidate volume is O(N * k^2) per round, never the N^2 cross join.

    metric: "cosine" (score column `cosine`, higher = nearer) or
    "euclidean" (score column `distance`, lower = nearer) -- matches Knn's
    pluggable SimilarityComputer.
    """
    if metric not in ("cosine", "euclidean"):
        raise ValueError(f"unknown metric {metric!r}")
    n = corpus.count()
    if init_buckets is None:
        init_buckets = max(int(n / max(k * 2, 1)), 1)
    c = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")) \
        .transform(truncate_mem)
    # THREE independent hash bucketings, unioned: a single bucketing yields
    # disjoint cliques that neighbor-of-neighbor proposals can never leave
    # (the refinement would be stuck in its init component); overlapping
    # bucketings make the proposal graph connected like Knn's random init
    knn = None
    for j in range(3):
        if hash_mode == "md5":
            bucket = F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("_id").cast("string"),
                                          F.lit(str(seed + j)))),
                        1, 15),
                    16, 10).cast("long"),
                F.lit(max(init_buckets + j, 1)))
        else:
            bucket = F.pmod(F.xxhash64("_id", F.lit(seed + j)),
                            F.lit(max(init_buckets + j, 1)))
        tagged = c.select("_id", bucket.alias("_b"))
        pairs = (
            tagged.alias("a").join(tagged.alias("b"), "_b")
            .select(F.col("a._id").alias("query_id"),
                    F.col("b._id").alias("neighbor_id"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
        knn = pairs if knn is None else knn.unionByName(pairs)

    def score_and_prune(cand: DataFrame) -> DataFrame:
        scored = (
            cand.distinct()
            .join(c.select(F.col("_id").alias("query_id"),
                           F.col("_v").alias("_qv")), "query_id")
            .join(c.select(F.col("_id").alias("neighbor_id"),
                           F.col("_v").alias("_cv")), "neighbor_id")
            .select("query_id", "neighbor_id", (
                cosine(F.col("_qv"), F.col("_cv")) if metric == "cosine"
                else -euclidean_distance(F.col("_qv"), F.col("_cv"))
            ).alias("_score"))
        )
        win = Window.partitionBy("query_id").orderBy(
            F.col("_score").desc(), F.col("neighbor_id").asc())
        return (
            scored.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= k).drop("_rn")
            .transform(truncate_mem)
        )

    knn = score_and_prune(knn)
    for _ in range(iterations):
        fwd = knn.select("query_id", "neighbor_id")
        rev = knn.select(F.col("neighbor_id").alias("query_id"),
                         F.col("query_id").alias("neighbor_id"))
        undirected = fwd.unionByName(rev)
        # neighbor-of-neighbor proposals through the undirected k-NN graph
        non = (
            undirected.alias("x")
            .join(undirected.alias("y"),
                  F.col("x.neighbor_id") == F.col("y.query_id"))
            .select(F.col("x.query_id").alias("query_id"),
                    F.col("y.neighbor_id").alias("neighbor_id"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
        knn = score_and_prune(
            knn.select("query_id", "neighbor_id").unionByName(non))
    out_score = (F.col("_score").alias("cosine") if metric == "cosine"
                 else (-F.col("_score")).alias("distance"))
    return knn.select("query_id", "neighbor_id", out_score)


def _unit(vec, decimals: int = 9):
    """L2-normalize an array<double> column, rounding each coordinate to
    ``decimals`` places. The rounding pins cross-engine float parity: the
    quantizer's argmin assignment then depends only on values both Spark
    and the DuckDB oracle compute identically (same trick as the contract
    queries' round-6 outputs, applied one layer earlier because the
    assignment FEEDS later stages instead of being the output)."""
    n = F.sqrt(F.aggregate(
        F.zip_with(vec, vec, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x,
    ))
    safe = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
    return F.transform(vec, lambda x: F.round(x.cast("double") / safe, decimals))


def ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    quantizer_iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, DataFrame]":
    """Build an IVF (inverted-file) index: train a deterministic Lloyd
    coarse quantizer on the L2-NORMALIZED corpus (angular IVF: euclidean on
    the unit sphere orders identically to cosine), assign every vector to
    its nearest centroid. Returns ``(lists, centroids)``:
    lists = (id, cell) -- the inverted lists, centroids = (cell, cvec).

    Scale shape (the FAISS IVF-Flat layout re-expressed in Spark): the
    centroid table is tiny (n_cells rows) and broadcast everywhere; the
    corpus is scanned ONCE per Lloyd round (broadcast crossJoin + argmin,
    map-side, no corpus shuffle). At 100-TB scale train on a deterministic
    corpus sample, then persist ``lists`` bucketed by cell so repeated
    query batches join without re-assigning -- build once, probe many."""
    from .clustering import lloyd_loop

    v = corpus.select(
        F.col(id_col).alias("id"), _unit(F.col(vec_col)).alias("vec")
    ).transform(truncate_mem)
    assign, cent = lloyd_loop(v, n_cells, quantizer_iterations)
    return (assign.select("id", F.col("community").alias("cell")),
            cent.select(F.col("community").alias("cell"), "cvec"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    quantizer_iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine): IVF-Flat approximate top-k -- the
    third ANN scale path beside hyperplane LSH and NN-Descent. Each query
    probes its ``n_probe`` nearest quantizer cells and is scored exactly
    (true cosine on the raw vectors) against only those cells' inverted
    lists: ~n_probe/n_cells of the corpus per query instead of all of it.
    ``n_probe = n_cells`` degrades gracefully to exact brute force (every
    cell probed), the classic IVF recall dial.

    Fully deterministic (pinned Lloyd quantizer + rounded normalization +
    (cosine desc, neighbor_id) tie-break), so the whole pipeline --
    quantizer training, cell assignment, probe choice, re-rank -- is
    value-exactly replayable in DuckDB (contract query ivf_topk_embeddings).

    Plan shape per stage: quantizer = broadcast crossJoin per round (no
    corpus shuffle); probe = queries x broadcast centroids; candidates =
    one shuffle join keyed by cell (AQE splits a hot cell); re-rank =
    candidates join the two vector tables then a per-query window top-k.
    Nothing ever materializes the |Q| x N pair space."""
    lists, cent = index if index is not None else ivf_index(
        corpus, n_cells, quantizer_iterations, id_col, vec_col)

    qn = queries.select(
        F.col(id_col).alias("query_id"),
        _unit(F.col(vec_col)).alias("_qn"),
        F.col(vec_col).alias("_qv"),
    )
    d2 = F.aggregate(
        F.zip_with("_qn", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    probe_win = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("cell").asc())
    probes = (
        qn.crossJoin(F.broadcast(cent))
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(probe_win))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "cell")
    )
    cand = (
        probes.join(lists.withColumnRenamed("id", "neighbor_id"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "_qv", "neighbor_id")
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("_cv"))
    scored = cand.join(cv, "neighbor_id").select(
        "query_id", "neighbor_id",
        cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def filtered_knn(
    corpus: DataFrame,
    k: int = 10,
    iterations: int = 3,
    source_filter: str | None = None,
    target_filter: str | None = None,
    oversample: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    metric: str = "cosine",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Filtered k-NN (reference similarity/filteredknn/FilteredKnn.java:
    sourceNodeFilter / targetNodeFilter over the KNN result stream).

    The SEARCH runs unfiltered — NN-Descent's neighbor-of-neighbor
    proposals need the full graph for connectivity, exactly why the
    reference filters at result-assembly rather than during search — but
    with an oversampled list size (k * oversample); targets are then
    filtered and each matching source keeps its k best matching targets.
    Sources absent from the filter are dropped at the end (per-source lists
    are independent, so source filtering is exact). Recall degrades only
    when fewer than k of a source's top (k*oversample) neighbors match the
    target filter."""
    from ..catalog import bind_node_filter

    raw = nn_descent_topk(corpus, k=k * max(oversample, 1),
                          iterations=iterations, id_col=id_col,
                          vec_col=vec_col, seed=seed, metric=metric,
                          hash_mode=hash_mode)
    score_col = "cosine" if metric == "cosine" else "distance"
    raw = bind_node_filter(raw, source_filter, "query_id")
    raw = bind_node_filter(raw, target_filter, "neighbor_id")
    order = (F.col(score_col).desc() if metric == "cosine"
             else F.col(score_col).asc())
    win = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        raw.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k).drop("_rn")
    )
