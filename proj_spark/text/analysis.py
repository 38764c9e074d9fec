"""Text analysis operators: token stats, quality score, language ID,
document fingerprinting.  All pure Spark SQL expressions (codegen'd, and
each has a 1:1 ANSI-SQL oracle form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny public stopword seeds per language (top function words)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "en", "que"],
    "pt": ["o", "a", "os", "e", "de", "um", "uma", "em", "que", "para"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty -> empty array)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pretokenizer, restricted to the lookahead-free regex subset
# shared by Java regex (Spark) and RE2 (DuckDB oracles): letter runs,
# digit runs, and other-symbol runs, each optionally absorbing ONE
# preceding space (the "BPE-ish" merge unit; applied to lowercased text)
BPE_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pretokenization of lowercased text (see BPE_PATTERN)."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), F.lit(0))


def char_count(text: Column) -> Column:
    return F.length(text)


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    digits = n - F.length(F.regexp_replace(text, "[0-9]", ""))
    return F.when(n > 0, digits.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, "[.,;:!?'\"()-]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def mean_token_len(text: Column) -> Column:
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total.cast("double") / F.size(t)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: favors mid-length docs with low digit/punct
    noise and sane mean word length (C4/Gopher-style rules, simplified)."""
    n_tok = token_count(text).cast("double")
    len_ok = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    mtl = mean_token_len(text)
    word_ok = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    noise = digit_ratio(text) + punct_ratio(text)
    noise_ok = F.greatest(F.lit(0.0), F.lit(1.0) - noise * F.lit(2.0))
    return F.round(len_ok * word_ok * noise_ok, 6)


def stopword_hits(text: Column, lang: str) -> Column:
    """How many distinct stopwords of `lang` occur in the token set."""
    toks = F.array_distinct(F.transform(tokens(text), lambda t: F.lower(t)))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(toks, sw))


def lang_guess(text: Column) -> Column:
    """argmax over per-language stopword hits; 'und' (undetermined) if all 0.
    Deterministic tie-break: language list order en,de,fr,es,pt."""
    hits = [(lang, stopword_hits(text, lang)) for lang in STOPWORDS]
    best_n = F.greatest(*[h for _, h in hits])
    expr = F.lit("und")
    for lang, h in reversed(hits):
        expr = F.when((best_n > 0) & (h == best_n), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column) -> Column:
    """Stable 128-bit content fingerprint (md5 hex) — identical in any
    engine, used as the exact-dedup key and the lineage content hash."""
    return F.md5(text)


def doc_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        char_count(t).alias("n_chars_c"),
        token_count(t).alias("n_tokens"),
        F.round(mean_token_len(t), 6).alias("mean_tok_len"),
        F.round(digit_ratio(t), 6).alias("digit_ratio"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    )
