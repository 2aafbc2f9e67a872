"""Text-analysis functions for training-data pipelines.

All JVM-side builtins (split/regexp/transform/aggregate) — the hot path
stays in whole-stage codegen and shuffles only aggregated values, never
raw token arrays, when used through the operators in
``operators/dedup.py``. Tokenization is deliberately minimal and
engine-portable: trim, split on whitespace runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.hashing import portable_hash64

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Chosen from each language's most frequent function words.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "des"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


def shingles_from_tokens(toks: Column, k: int = 5) -> Column:
    """Distinct word k-grams from an already-computed token array.

    IMPORTANT at scale: pass a BOUND column (project ``tokens(text)``
    into a named column first). Passing the raw ``tokens(text)``
    expression works but re-evaluates the regex split once per shingle
    position — higher-order-function lambdas are not subexpression-
    eliminated by codegen.
    """
    n = F.size(toks) - F.lit(k - 1)
    return F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )


def word_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct word k-grams — the MinHash input representation for
    text dedup (word n-grams discriminate far better than character
    shingles on natural text, and the arrays are ~k× smaller). Docs
    with fewer than k tokens yield an empty set (cannot near-dup).

    Convenience form over :func:`shingles_from_tokens`; hot paths
    should bind the token array to a column first (see that function's
    scale note)."""
    return shingles_from_tokens(tokens(text), k)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.round(F.length(stripped) / F.greatest(F.length(c), F.lit(1)), 6)


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0, 1]: rewards reasonable length,
    penalizes punctuation soup. Deterministic and oracle-expressible."""
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    return F.round(len_score * (F.lit(1.0) - punct_ratio(c)), 6)


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: the language whose stopword list has the
    most token hits; 'und' when nothing matches. Pure CASE/array ops."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    scores = []
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append(
            (lang, F.size(F.filter(toks, lambda t: F.array_contains(sw, t))))
        )
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # Left-to-right argmax with strict > keeps ties deterministic
    # (first language in STOPWORDS order wins).
    for lang, score in scores:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


# GPT-2-style pre-tokenization classes, minus the lookahead/contraction
# clauses so the same pattern runs identically under Java regex (Spark)
# and RE2 (DuckDB/oracle): letter runs, digit runs, punctuation runs.
BPE_PRETOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_pretokens(text: Column | str) -> Column:
    """BPE-ish pre-token array: the segmentation a byte-pair-encoding
    tokenizer applies before merges (word/number/punct runs with their
    leading space). Counting these approximates LLM token budgets far
    better than whitespace splitting on code/punctuation-heavy text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_PATTERN), 0)


def fingerprint(text: Column | str) -> Column:
    """60-bit engine-portable document fingerprint (exact-dup key)."""
    return portable_hash64(text)


def normalize_text(text: Column | str) -> Column:
    """Canonical text form for fingerprinting/dedup: lowercase,
    whitespace runs collapsed to single spaces, trimmed. Pure builtin
    regexp — codegen'd, engine-portable (same regex class semantics in
    DuckDB with the 'g' flag)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def gopher_quality_flags(df, text_col: str, id_col: str):
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    the repetition/format filters most LLM data pipelines start from),
    as one narrow map-only projection: per-doc booleans for each rule
    plus the combined ``keep``.

    Rules implemented (canonical thresholds):
      - word count in [50, 100_000]
      - mean word length in [3, 10]
      - symbol-to-word ratio (# and ellipsis) <= 0.1
      - >= 80% of words contain an alphabetic character
      - >= 2 hits from the English stopword list
      - <= 90% of lines bullet-started, <= 30% ellipsis-ended

    Everything is builtin HOFs over a BOUND token array (computed once,
    not per-lambda) — zero shuffles, zero UDFs; at 100 TB this is a
    pure scan stage that fuses into whole-stage codegen.
    """
    t = F.col(text_col)
    bound = df.select(
        F.col(id_col),
        t.alias("__text"),
        tokens(t).alias("__toks"),
        F.split(t, "\n").alias("__lines"),
    )
    n_words = F.size("__toks")
    sum_len = F.aggregate(
        "__toks", F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_wl = F.round(sum_len / n_words, 6)
    alpha_words = F.size(F.filter("__toks", lambda w: w.rlike("[A-Za-z]")))
    hash_chars = F.length("__text") - F.length(F.expr("replace(__text, '#', '')"))
    ellipses = F.floor(
        (F.length("__text") - F.length(F.expr("replace(__text, '...', '')")))
        / F.lit(3)
    )
    symbol_ratio = (hash_chars + ellipses) / n_words
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter("__toks", lambda w: F.array_contains(sw, F.lower(w)))
    )
    n_lines = F.size("__lines")
    bullet_lines = F.size(
        F.filter("__lines", lambda l: F.ltrim(l).rlike("^[-*•]"))
    )
    ellipsis_lines = F.size(F.filter("__lines", lambda l: l.endswith("...")))
    ok_word_count = (n_words >= 50) & (n_words <= 100_000)
    ok_mean_wl = (mean_wl >= 3) & (mean_wl <= 10)
    ok_symbols = symbol_ratio <= 0.1
    ok_alpha = alpha_words / n_words >= 0.8
    ok_stopwords = stop_hits >= 2
    ok_lines = (bullet_lines / n_lines <= 0.9) & (ellipsis_lines / n_lines <= 0.3)
    return bound.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        ok_word_count.alias("ok_word_count"),
        ok_mean_wl.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stopwords.alias("ok_stopwords"),
        ok_lines.alias("ok_line_format"),
        (
            ok_word_count
            & ok_mean_wl
            & ok_symbols
            & ok_alpha
            & ok_stopwords
            & ok_lines
        ).alias("keep"),
    )
