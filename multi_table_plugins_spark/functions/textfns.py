"""Text-analysis expressions for large-scale training-data curation:
tokenization counts, quality signals, language-ID heuristics, document
fingerprints. All pure Catalyst expressions (regexp/array builtins) —
they push through WholeStageCodegen and cost no Python.

Semantics are chosen to be reproducible in ANSI SQL (DuckDB oracle):
word = ``[A-Za-z0-9]+`` match, fingerprint = md5 of the sorted distinct
lowercased word set.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

WORD_RE = "[A-Za-z0-9]+"


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(text: Column | str) -> Column:
    """Whitespace/punct-robust token count: number of WORD_RE matches."""
    return F.regexp_count(_c(text), F.lit(WORD_RE))


def words(text: Column | str) -> Column:
    """Lowercased word array (empty strings filtered)."""
    arr = F.split(F.lower(_c(text)), r"[^a-z0-9]+")
    return F.filter(arr, lambda w: w != "")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles (n-grams) as strings — the unit set for MinHash /
    Jaccard near-dup. Built with sequence+transform+slice: pure JVM.

    Documents with fewer than k words yield an EMPTY array — the n < k
    branch must be explicit because ``sequence(1, 0)`` in Spark counts
    *down* ([1, 0]), and index 0 is an illegal ``slice`` start."""
    w = words(text)
    n = F.size(w)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(w, i, k), " "))


def doc_fingerprint(text: Column | str) -> Column:
    """Canonical content fingerprint: md5 over the sorted distinct word
    set — whitespace/word-order/dup-word insensitive (rolling-hash-class
    dedup key)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(words(text))), " "))


#: tiny per-language stopword anchors for the n-gram language heuristic
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "y", "una"),
}


def stopword_hits(text: Column | str, lang: str) -> Column:
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(_c(text)), F.lit(pat))


def lang_id(text: Column | str) -> Column:
    """Pick the language whose stopword anchors hit most; ties and
    zero-hit rows → 'und'. Deterministic CASE cascade (strictly-greater
    comparisons in fixed key order)."""
    hits = {l: stopword_hits(text, l) for l in LANG_STOPWORDS}
    best = F.lit("und")
    best_n = F.lit(0)
    for l in LANG_STOPWORDS:  # fixed order: en, de, fr, es
        cond = hits[l] > best_n
        best = F.when(cond, F.lit(l)).otherwise(best)
        best_n = F.when(cond, hits[l]).otherwise(best_n)
    return best


def quality_score(text: Column | str, n_chars: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: length band + alpha density +
    mean word length band. Deterministic, SQL-reproducible."""
    t = _c(text)
    nc = _c(n_chars).cast("double")
    n_words = token_count(t).cast("double")
    alpha = F.when(nc > 0, F.regexp_count(t, F.lit("[A-Za-z]")) / nc).otherwise(
        F.lit(0.0)
    )
    mean_wl = F.when(n_words > 0, nc / n_words).otherwise(F.lit(0.0))
    len_band = F.when((nc >= 100) & (nc <= 20000), F.lit(1.0)).otherwise(F.lit(0.5))
    wl_band = F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_band * 0.4 + alpha * 0.4 + wl_band * 0.2), 4)
