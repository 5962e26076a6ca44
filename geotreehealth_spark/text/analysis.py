"""Text analysis operators: stats/quality, language-ID, token count,
fingerprinting. All pure Catalyst expressions (JVM-side, codegen'd) — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language marker lexicons for the n-gram/stopword heuristic;
# deliberately small so the oracle SQL can repeat them verbatim
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "que"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
    "zh": ["de", "shi", "le"],
}


def _count_word(text_col: Column, word: str) -> Column:
    """Occurrences of a whole word via padded plain-substring counting.

    Plain (non-regex) replace + floor division so the arithmetic is identical
    in the DuckDB oracle (cast double→int truncates in Spark but ROUNDS in
    DuckDB — floor first sidesteps the difference).
    """
    padded = F.concat(F.lit(" "), F.lower(text_col), F.lit(" "))
    needle = f" {word} "
    removed = F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit("")))
    return F.floor(removed / len(needle)).cast("int")


def text_stats(docs: DataFrame) -> DataFrame:
    """n_chars / n_words / avg word length / punctuation ratio / quality score."""
    t = F.col("text")
    n_chars = F.length(t)
    n_words = F.size(F.split(F.trim(t), r"\s+"))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    avg_word_len = (n_chars - n_words + 1).cast("double") / n_words.cast("double")
    quality = (
        F.when(n_words < 5, 0.0)
        .when(avg_word_len < 2.0, 0.25)
        .when(avg_word_len > 12.0, 0.25)
        .otherwise(1.0)
    )
    return docs.select(
        F.col("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        n_punct.cast("long").alias("n_punct"),
        avg_word_len.alias("avg_word_len"),
        quality.alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of marker-word counts (ties → lang name asc)."""
    t = F.col("text")
    scores = [
        F.struct(
            sum(_count_word(t, w) for w in words).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    # left fold with strict '>' keeps the FIRST language on ties; the array is
    # built lang-ascending, so ties resolve to the alphabetically-smallest lang
    best = F.aggregate(
        F.array(*scores),
        F.struct(F.lit(-1).cast("int").alias("score"), F.lit("").alias("lang")),
        lambda acc, s: F.when(s.score > acc.score, s).otherwise(acc),
    )
    return docs.select(
        F.col("doc_id"), best.score.alias("lang_score"), best.lang.alias("lang_pred")
    )


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy (~chars/4 ceiling), both JVM-side."""
    t = F.col("text")
    ws = F.size(F.split(F.trim(t), r"\s+"))
    bpe_ish = F.ceil(F.length(t) / F.lit(4.0)).cast("long")
    return docs.select(
        F.col("doc_id"), ws.cast("long").alias("ws_tokens"), bpe_ish.alias("bpe_tokens_est")
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Normalized-content fingerprint: md5 of lower + whitespace-collapsed text."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(F.col("doc_id"), F.md5(norm).alias("fp"))
