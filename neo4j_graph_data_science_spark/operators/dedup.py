"""Document deduplication operators for large-scale training-data pipelines.

Not part of GDS; first-class here per the build brief. All variants stay
JVM-side (md5/xxhash64, explode, groupBy -- no Python UDFs) so the hot path
is whole-stage-codegen'd and shuffle-combined:

  * exact_dedup          hash-groupBy on normalized text
  * char_shingles        sliding character n-grams (the MinHash atom)
  * minhash_signatures   k independent min-hashes; hash_i(s) = md5(i||s),
                         min taken LEXICOGRAPHICALLY over hex strings --
                         deterministic, engine-portable (same result in any
                         SQL engine with md5), no 64-bit hash dialect issues
  * lsh_candidate_pairs  band the signature (b bands x r rows), bucket-join
                         on (band, band_hash): candidates share >=1 band
  * ngram_jaccard_pairs  exact word-n-gram Jaccard via shingle self-join
  * simhash              bit-majority fingerprint over token hashes (xxhash64
                         bits; Hamming-close pairs via band buckets)

Scale notes: shingle explosion multiplies rows by ~doc_len; the self-joins
are banded (LSH) precisely so the full quadratic pair space is never
materialized -- the exact-Jaccard verifier then runs only on candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import register_cache
from ..plans.checkpoint import truncate_mem


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, text_hash, rep_id, is_dup): rep = min doc_id per hash."""
    h = docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
    rep = h.groupBy("text_hash").agg(F.min("doc_id").alias("rep_id"))
    return h.join(rep, "text_hash").select(
        "doc_id", "text_hash", "rep_id", (F.col("doc_id") != F.col("rep_id")).alias("is_dup")
    )


def char_shingles(docs: DataFrame, k: int = 5, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, shingle): distinct sliding character k-grams."""
    n = F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.sequence(F.lit(1), n)).alias("_i"),
            F.col(text_col).alias("_t"),
        )
        .select("doc_id", F.expr(f"substring(_t, _i, {k})").alias("shingle"))
        .distinct()
    )


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16,
                       hash_family: str = "xxhash64") -> DataFrame:
    """(doc_id, sig): sig[i] = min over shingles of hash_i(shingle).

    hash_family:
      * "xxhash64" (default): hash_i = xxhash64(i, shingle) -> array<bigint>.
        Integer min through the shuffle; this is the bench/production path
        (round 1 showed the md5 family alone was 53% of the sf0.1 suite).
      * "md5": hash_i = md5(i || ':' || shingle), min taken
        LEXICOGRAPHICALLY over hex -> array<string>. Kept because DuckDB
        has md5 but no xxhash64, so the oracle-verified contract query can
        replicate it bit-for-bit.

    Execution shape (both families): all k hashes are computed IN-ROW
    (k columns per shingle row) and reduced with k min-aggregates in ONE
    groupBy(doc_id) -- no k-fold explode, no (doc_id, seed) shuffle. The
    shuffle carries |docs| x k values after map-side combine instead of
    |shingles| x k rows."""
    if hash_family == "md5":
        cols = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    else:
        cols = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    mins = shingles.groupBy("doc_id").agg(*cols)
    return mins.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """(doc_a, doc_b, est_jaccard): pairs sharing >=1 LSH band; estimate =
    fraction of matching minhash positions.

    ``signatures`` is persisted here: it feeds both banded join sides AND
    both verify-side signature lookups (4 references), and upstream it is
    the full shingle-explode + k-min aggregation -- the expensive scan of
    the whole pipeline."""
    signatures = register_cache(signatures.persist())
    sig_len_df = signatures.select(F.size("sig").alias("_l")).limit(1).collect()
    rows_per_band = (sig_len_df[0]["_l"] if sig_len_df else bands) // bands
    sig_is_str = dict(signatures.dtypes).get("sig") == "array<string>"
    band_slice = F.slice(
        F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band
    )
    # md5-of-concat for the string (oracle-parity) family so DuckDB can
    # mirror it; xxhash64 of the sliced array for the int64 family
    band_hash = (F.md5(F.concat_ws("|", band_slice)) if sig_is_str
                 else F.xxhash64(band_slice).cast("string"))
    banded = signatures.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("sig"),
    ).select("doc_id", "band", band_hash.alias("band_hash"))
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    cand = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = signatures.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sb = signatures.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (
                F.aggregate(
                    F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
                    F.lit(0), lambda acc, x: acc + x,
                ).cast("double") / F.size("_sa")
            ).alias("est_jaccard"),
        )
    )


def word_ngrams(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc_id, ngram): distinct word n-grams (whitespace tokenization)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
    )
    cnt = F.greatest(F.size("_toks") - (n - 1), F.lit(0))
    return (
        toks.select("doc_id", F.explode(F.sequence(F.lit(1), cnt)).alias("_i"), "_toks")
        .select("doc_id",
                F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_i"), n)).alias("ngram"))
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, jaccard): exact word-n-gram Jaccard >= threshold.
    Shingle self-join; at scale run AFTER lsh_candidate_pairs as verifier."""
    # persisted: feeds the set sizes AND both self-join sides (3 refs of
    # an explode+distinct pipeline)
    grams = register_cache(word_ngrams(docs, n, id_col, text_col).persist())
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "ngram")
    b = grams.select(F.col("doc_id").alias("doc_b"), "ngram")
    inter = (
        a.join(b, "ngram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    ja = sizes.select(F.col("doc_id").alias("doc_a"), F.col("_sz").alias("_za"))
    jb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("_sz").alias("_zb"))
    return (
        inter.join(ja, "doc_a").join(jb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("_i") / (F.col("_za") + F.col("_zb") - F.col("_i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(docs: DataFrame, bits: int = 64, id_col: str = "doc_id",
            text_col: str = "text", hash_mode: str = "xxhash64") -> DataFrame:
    """(doc_id, simhash): bit-majority over a token hash.

    Per token t and bit i: contribute +1 if bit i of hash(t) set else -1;
    fingerprint bit i = 1 iff the sum is positive. Explode is tokens x bits;
    the groupBy combines map-side so the shuffle is |docs| x bits rows.

    hash_mode: "xxhash64" (default; int64 JVM hash, the fast/scale path) or
    "md5" (first 15 hex chars of md5 -> 60-bit int; byte-identical in any
    engine with a standard md5, which makes the result DuckDB-verifiable --
    bits is capped at 60 in this mode).
    """
    if hash_mode == "md5":
        bits = min(bits, 60)
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("tok")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", h)
    bitrows = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        F.col("h"),
    ).select(
        "doc_id", "bit",
        F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1).alias("v"),
    )
    votes = bitrows.groupBy("doc_id", "bit").agg(F.sum("v").alias("s"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("cast(1 as bigint) << bit"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def semantic_dedup(vectors: DataFrame, threshold: float = 0.95,
                   k: int = 16, iterations: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cluster, duplicate_of, keep): SemDeDup-style semantic
    deduplication over an embedding column (Abbas et al. 2023, SemDeDup:
    cluster the corpus, then drop items whose cosine to a cluster-mate
    exceeds the threshold -- the cluster step keeps the pair scoring from
    ever materializing the global N^2 space).

    Deterministic end-to-end: the cluster step is the pinned-init Lloyd
    loop shared with K-means/IVF (operators/clustering.lloyd_loop --
    first-k-ids init, (d2, community) tie-break), and within each cluster
    an item is a duplicate iff a LOWER-id cluster-mate scores
    cosine >= threshold; ``duplicate_of`` = the smallest such id (-1 for
    kept items). Exact cosine on the raw vectors (SemDeDup normalizes
    first; with the cosine metric the two agree).

    Scale shape: pair scoring is confined to same-cluster pairs --
    sum of per-cluster quadratic terms, the whole point of the cluster
    prefilter; the per-cluster join is a shuffle on the cluster id, and a
    skewed giant cluster is the k-too-small signal (raise k), exactly as
    in the reference SemDeDup recipe.
    """
    from ..functions.vector import cosine
    from .clustering import lloyd_loop

    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).transform(truncate_mem)
    assign, _cent = lloyd_loop(v, k, iterations)
    withv = register_cache(
        assign.select("id", "community").join(v, "id").persist())

    a = withv.select(F.col("id").alias("id_a"), "community",
                     F.col("vec").alias("_va"))
    b = withv.select(F.col("id").alias("id_b"), "community",
                     F.col("vec").alias("_vb"))
    dup = (
        a.join(b, "community")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= threshold)
        .groupBy("id_b").agg(F.min("id_a").alias("duplicate_of"))
        .withColumnRenamed("id_b", "id")
    )
    return (
        withv.select("id", F.col("community").alias("cluster"))
        .join(dup, "id", "left")
        .select(
            "id", "cluster",
            F.coalesce("duplicate_of", F.lit(-1)).cast("long")
            .alias("duplicate_of"),
            F.col("duplicate_of").isNull().alias("keep"),
        )
    )
