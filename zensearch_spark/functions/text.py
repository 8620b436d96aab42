"""Text-analysis functions for corpus curation (SURVEY training-data
ops): stopword-based language scoring, quality features, BPE-ish
token counting, document fingerprinting. All JVM column expressions —
each has an exact ANSI-SQL twin in __spark_entry__.oracle_sql()."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zensearch_spark.functions.tokenizer import with_tokens

EN_STOPWORDS = [
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "or",
]

# word pieces OR single non-space punctuation — the BPE-ish pre-split
BPE_REGEX = r"\w+|[^\w\s]"


def stopword_language_score(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, stop_frac, looks_english) — n-gram-free
    language-ID heuristic: fraction of tokens in an English stopword
    list.

    Round 6 (guide §4.2): the per-token membership test ran as an
    interpreted Catalyst aggregate lambda × 16 array_contains per
    token; the counts now come from an Arrow kernel (exact integers),
    with the rounded fraction still derived in JVM."""
    from zensearch_spark.functions.hashkernel import make_stopcount_udf

    sc_udf = make_stopcount_udf(EN_STOPWORDS)
    counted = docs.select(
        F.col(id_col).alias("doc_id"), sc_udf(F.col(text_col)).alias("_c")
    )
    n_tokens = F.col("_c.n_tokens")
    frac = F.round(F.col("_c.n_stop") / F.greatest(n_tokens, F.lit(1)), 6)
    return counted.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        frac.alias("stop_frac"),
        (frac >= 0.02).alias("looks_english"),
    )


def quality_features(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, type_token_ratio, mean_tok_len,
    quality) — length/diversity-based quality score."""
    toks = with_tokens(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    ttr = F.round(n_distinct / F.greatest(n_tokens, F.lit(1)), 6)
    mean_len = F.round(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / F.greatest(n_tokens, F.lit(1)),
        6,
    )
    quality = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * ttr, 6
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        ttr.alias("type_token_ratio"),
        mean_len.alias("mean_tok_len"),
        quality.alias("quality"),
    )


def bpe_token_count(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens): whitespace count vs the BPE-ish
    regex pre-tokenizer count."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(with_tokens(text_col)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


def doc_fingerprints(docs: DataFrame, shingle: int = 8, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, fp, min_shingle_fp): whole-doc md5 + winnowing-style
    minimum over ``shingle``-token window keys (the rolling-hash
    fingerprint for containment detection).

    Window keys are the same 62-bit rolling-polynomial integer algebra
    as dedup._gram_key_arrays (one md5 per TOKEN, split into two 31-bit
    halves, per-window polynomial per half, key = poly1·P + poly2) —
    replacing the round-3 per-window array_join + md5 string churn,
    the shape the dedup module's switch measured at 6×. Docs shorter
    than ``shingle`` get one key folded over all their tokens; empty
    docs get key 0.

    Round-6 shape (guide §4.2): the round-5 let-bound Catalyst HOF
    chain (interpreted per window position) is replaced by an Arrow-
    batched NumPy kernel with per-distinct-token md5 memoization
    (functions/hashkernel.py) — same 62-bit integer algebra,
    digit-for-digit against _fingerprints_sql."""
    from zensearch_spark.functions.hashkernel import make_min_shingle_udf
    from zensearch_spark.operators.dedup import GRAM_C1, GRAM_C2, MINHASH_P

    mu = make_min_shingle_udf(shingle, GRAM_C1, GRAM_C2, MINHASH_P)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("fp"),
        mu(F.col(text_col)).alias("min_shingle_fp"),
    )


# PII patterns shared by the Spark path and the DuckDB oracle — kept
# to syntax both Java regex and RE2 interpret identically (no
# backrefs, no lookaround). Applied in a FIXED order (email → ipv4 →
# phone) so overlapping matches resolve the same way on both engines.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, redacted, n_redactions): emails, IPv4s and phone
    numbers replaced with typed placeholders — the scrub every
    training-data pipeline runs before anything else touches text.
    Pure JVM regexp_replace/regexp_count chain: embarrassingly
    parallel, no shuffle, no UDF."""
    t = F.col(text_col)
    n = (
        F.regexp_count(t, F.lit(PII_EMAIL))
        + F.regexp_count(t, F.lit(PII_IPV4))
        + F.regexp_count(t, F.lit(PII_PHONE))
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>",
        ),
        PII_PHONE, "<PHONE>",
    )
    return docs.select(
        F.col(id_col),
        red.alias("redacted"),
        n.cast("long").alias("n_redactions"),
    )
