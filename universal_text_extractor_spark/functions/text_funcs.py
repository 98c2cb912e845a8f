"""Text-analysis Column expressions for training-data pipelines.

All JVM-side (whole-stage-codegen-friendly): normalization, token
counting, word lists, the quality-purge signals and the url host. Each
text signal has an ANSI-SQL twin used as the DuckDB oracle in
__spark_entry__.py — keep rule-identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# fixed stopword list — part of the quality_summary contract (mirrored in
# the oracle SQL; do not reorder/change without updating both)
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "was", "are", "be", "at",
    "by", "from", "has", "have", "not",
)

# the whitespace class, spelled out: it is exactly Java's ``\s`` (what
# Spark's regexps see), while RE2's ``\s`` (DuckDB) lacks \x0B — the
# oracle SQL uses this same class
WS_CHARS = r" \t\n\x0B\f\r"
_WS = f"[{WS_CHARS}]+"


def normalized_text_col(text: Column) -> Column:
    """Whitespace-collapsed, lowercased, trimmed — the exact-dedup key."""
    return F.trim(F.regexp_replace(F.lower(text), _WS, " "))


def token_count_col(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0. Token basis =
    the NORMALIZED text: ``trim`` removes only ASCII spaces, so splitting
    the raw text gave leading/trailing ``\\n``/``\\t`` docs a phantom
    empty token — the same bug class the r5 shingle/simhash fixes closed
    (r5 review, batch 3; oracle ``_words`` moves in lockstep)."""
    t = normalized_text_col(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, " ")))


def words_col(text: Column) -> Column:
    """Lowercased whitespace tokens (empty array for blank text) — over
    the NORMALIZED text; see :func:`token_count_col` for why."""
    t = normalized_text_col(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, " ")
    )


def alpha_ratio_col(text: Column) -> Column:
    """Share of characters that are letters, rounded to 4 dp. ``\\p{L}``
    (any Unicode letter), not ``[A-Za-z]``: the ratio claims to be
    language-agnostic, and an ASCII class under-scores accented and
    non-Latin documents. Java and RE2 (DuckDB) agree on the class."""
    alpha = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))
    return F.round(alpha / F.greatest(F.length(text), F.lit(1)), 4)


def quality_keep_col(
    text: Column, min_alpha_ratio: float, min_tokens: int
) -> Column:
    """The quality-purge predicate: the rounded alpha ratio and the token
    count both clear their thresholds."""
    return (alpha_ratio_col(text) >= min_alpha_ratio) & (
        token_count_col(text) >= min_tokens
    )


def host_col(url: Column) -> Column:
    """Host portion of a url (any scheme): the corpus ``source`` column
    and the streaming per-host state key. Path-less URIs
    (``https://example.com``) yield their host, not ``''``."""
    return F.regexp_extract(url, r"^[a-z]+://([^/]+)", 1)
