"""Text analysis operators for training-data pipelines (build-brief set):
language ID (stopword-ratio heuristic), quality scoring, token counting,
document fingerprinting. All Catalyst-native expressions over the
``documents`` table -- regexp/split/explode/groupBy, no Python in the hot
path; at 100 TB these are embarrassingly parallel scans with map-side
combined aggregations only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"],
}


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, tok): whitespace tokens, lowercased."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len): whitespace + regex
    token counting (BPE-ish proxy: alnum runs count separately from
    punctuation runs)."""
    t = F.trim(F.col(text_col))
    toks = F.split(t, r"\s+")
    # BPE-ish subtoken proxy: maximal alnum runs + maximal punctuation runs.
    # regexp_extract_all (not lookarounds) so the semantics are portable to
    # RE2-based engines (DuckDB oracle) and stay in codegen.
    bpe_ish = F.size(F.regexp_extract_all(t, F.lit(r"[a-zA-Z0-9]+"), 0)) + F.size(
        F.regexp_extract_all(t, F.lit(r"[^a-zA-Z0-9\s]+"), 0)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.when(t == "", 0).otherwise(F.size(toks)).cast("long").alias("n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.when(t == "", 0.0)
        .otherwise(
            F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
            / F.size(toks)
        )
        .alias("avg_token_len"),
        bpe_ish.cast("long").alias("n_subtokens"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, stopword_ratio, punct_ratio, upper_ratio, quality):
    length/punct/stopword heuristics (C4/Gopher-style quality gates)."""
    en = STOPWORDS["en"]
    t = F.col(text_col)
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    n_toks = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(en)))
    punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", ""))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    chars = F.greatest(F.length(t), F.lit(1))
    sr = (stop_hits.cast("double") / F.greatest(n_toks, F.lit(1)))
    pr = punct.cast("double") / chars
    ur = upper.cast("double") / chars
    quality = (
        F.when(n_toks < 5, 0.0)
        .otherwise(
            F.least(F.lit(1.0), n_toks.cast("double") / 100.0) * (1.0 - pr) * (0.5 + sr)
        )
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.round(sr, 6).alias("stopword_ratio"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(ur, 6).alias("upper_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred, lang_score): argmax over per-language stopword hit
    ratios; 'und' when nothing matches. A real deployment swaps in a fastText
    ONNX scorer via mapInPandas -- the plumbing (schema/partitioning) is
    identical."""
    toks = tokenize(docs, id_col, text_col)
    hits = None
    for lang, words in STOPWORDS.items():
        h = toks.groupBy("doc_id").agg(
            F.sum(F.col("tok").isin(words).cast("int")).alias("hits"),
            F.count(F.lit(1)).alias("total"),
        ).select("doc_id", F.lit(lang).alias("lang_cand"),
                 (F.col("hits") / F.col("total")).alias("ratio"))
        hits = h if hits is None else hits.unionByName(h)
    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_id").orderBy(F.col("ratio").desc(), F.col("lang_cand").asc())
    best = hits.withColumn("_rn", F.row_number().over(win)).filter(F.col("_rn") == 1)
    return best.select(
        "doc_id",
        F.when(F.col("ratio") > 0, F.col("lang_cand")).otherwise(F.lit("und")).alias("lang_pred"),
        F.round("ratio", 6).alias("lang_score"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint): order-sensitive, whitespace-normalized document
    fingerprint = md5 over the token sequence joined with an unprintable
    separator. Row-local (no shuffle), codegen'd, and engine-portable (md5 is
    identical in any SQL engine), unlike a 64-bit hash dialect."""
    t = F.trim(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.array_join(F.split(t, r"\s+"), "\x01")).alias("fingerprint"),
    )
