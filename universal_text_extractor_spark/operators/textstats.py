"""Text-analysis operators over ``documents``: language-ID, quality purge
and summary, token counts, fingerprinting (task brief: first-class
alongside SURVEY §2).

Everything is JVM Column expressions — no Python UDFs in any of these.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text_funcs import (
    STOPWORDS,
    WS_CHARS,
    alpha_ratio_col,
    normalized_text_col,
    quality_keep_col,
    token_count_col,
    words_col,
)
from .dedup import md5_long

# tiny per-language function-word lists for the n-gram/stopword heuristic
# language-ID (deterministic; mirrored verbatim in the oracle SQL)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "fr": ("le", "la", "les", "et", "de", "des", "un", "une", "est", "que"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "es": ("el", "la", "los", "las", "y", "de", "que", "es", "un", "una"),
    "pt": ("o", "a", "os", "as", "e", "de", "que", "um", "uma", "não"),
}


def lang_id_col(text: Column) -> Column:
    """Language of ``text``: each language scores the share of its marker
    tokens among the whitespace tokens (4 dp); the argmax wins, ties go to
    the first language in code order, and 'unknown' when no marker hits.

    Lambda-free: one ``regexp_count`` per language over the normalized
    text counts whole-token hits (the normalized text is single-space
    separated, so a token is bounded by a space or the string's ends);
    an array ``filter`` lambda would evaluate interpreted per token and
    per language. The t5 oracle and a pure-Python fuzz test lock it."""
    norm = normalized_text_col(text)
    n_tok = F.greatest(token_count_col(text), F.lit(1))
    scores = []
    for lang in sorted(LANG_MARKERS):
        words = "|".join(re.escape(w) for w in LANG_MARKERS[lang])
        hits = F.regexp_count(norm, F.lit(f"(?<![^ ])(?:{words})(?![^ ])"))
        scores.append((lang, F.round(hits / n_tok, 4)))
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("unknown")
    # build reverse WHEN chain so the FIRST lang in sorted order wins ties
    for lang, s in reversed(scores):
        pred = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return pred


def language_id(documents: DataFrame) -> DataFrame:
    """Predicted language per doc (:func:`lang_id_col`) against the
    ground-truth lang column, counted per (lang, predicted)."""
    return (
        documents.select("lang", lang_id_col(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "predicted")
    )


def quality_purge(
    documents: DataFrame,
    min_alpha_ratio: float = 0.81,
    min_tokens: int = 15,
) -> DataFrame:
    """The quality PURGE (companion to the t3 report — the operator a
    training-data pipeline actually runs; plans/corpus.py runs it on the
    framed docs): keep documents whose alphabetic-character ratio and
    token count clear the thresholds (:func:`quality_keep_col`), all
    columns kept. Language-agnostic signals only (length/punctuation
    class); the stopword ratio stays a report metric because its list is
    English-biased. Pure scan+filter — pushes to the source, no shuffle."""
    return documents.filter(
        quality_keep_col(F.col("text"), min_alpha_ratio, min_tokens)
    )


def quality_filter(
    documents: DataFrame,
    min_alpha_ratio: float = 0.81,
    min_tokens: int = 15,
) -> DataFrame:
    """t6: :func:`quality_purge` projected to the graded columns
    (doc_id, lang, n_tokens, alpha_ratio)."""
    text = F.col("text")
    return quality_purge(documents, min_alpha_ratio, min_tokens).select(
        "doc_id",
        "lang",
        token_count_col(text).alias("n_tokens"),
        alpha_ratio_col(text).alias("alpha_ratio"),
    )


def quality_summary(documents: DataFrame) -> DataFrame:
    """Corpus-level quality profile per lang. Stopword counting is a flat
    token explode + InSet aggregate, not an interpreted array filter;
    the scalar signals (length, :func:`alpha_ratio_col`, token count) stay
    plain column expressions."""
    stops = (
        documents.select(
            "doc_id", F.explode(words_col(F.col("text"))).alias("w")
        )
        .filter(F.col("w").isin(*STOPWORDS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_stop"))
    )
    base = documents.select(
        "doc_id", "lang",
        F.length("text").alias("n_chars"),
        alpha_ratio_col(F.col("text")).alias("alpha_ratio"),
        token_count_col(F.col("text")).alias("n_tokens"),
    ).join(stops, "doc_id", "left")
    scored = base.select(
        "lang",
        "n_chars",
        "n_tokens",
        "alpha_ratio",
        F.round(
            F.coalesce(F.col("n_stop"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            4,
        ).alias("stopword_ratio"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha_ratio"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace + word-regex token counts per doc (BPE-ish proxy: words,
    numbers, and punctuation runs counted separately)."""
    bpe_ish = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"), F.lit(0)
        )
    )
    return documents.select(
        "doc_id",
        token_count_col(F.col("text")).alias("ws_tokens"),
        bpe_ish.alias("bpe_ish_tokens"),
        F.length("text").alias("n_chars"),
    )


FINGERPRINT_STRIDE = 4


def fingerprints(documents: DataFrame, k: int = 5) -> DataFrame:
    """Winnowing-style document fingerprint: min md5-hash over character
    k-grams sampled every FINGERPRINT_STRIDE positions of the normalized
    text (rolling-hash family; the stride is the cheap cousin of winnowing's
    per-window min — 4× fewer hashes, same near-dup detection power; md5
    bridge keeps the DuckDB oracle exact)."""
    norm = normalized_text_col(F.col("text"))
    n = F.length(norm)
    # flat formulation: explode the sampled positions, hash each gram as a
    # plain column, min-aggregate per doc. The array version (transform +
    # array_min) evaluates interpreted per gram — this stays in whole-stage
    # codegen and the shuffle carries only (doc_id, hash). Generate+Project
    # pipeline means the normalized text is NOT duplicated per gram row.
    ex = documents.select(
        "doc_id",
        norm.alias("nt"),
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(n - F.lit(k - 1), F.lit(1)),
                F.lit(FINGERPRINT_STRIDE),
            )
        ).alias("i"),
    )
    h = ex.select(
        "doc_id", md5_long(F.col("nt").substr(F.col("i"), F.lit(k))).alias("h")
    )
    return h.groupBy("doc_id").agg(F.min("h").alias("fingerprint"))


def doc_profile(documents: DataFrame) -> DataFrame:
    """Flagship rollup: per (lang, source) doc counts + char/token stats."""
    return (
        documents.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(F.avg(token_count_col(F.col("text"))), 2).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )
