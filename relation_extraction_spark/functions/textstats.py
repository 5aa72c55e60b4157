"""Column text expressions — the surface-form normalization every KG
stage and the exact dedup key share, and the training-data quality
filter's signals (token count, stopword ratio, type-token ratio) and its
keep/reasons verdict.

All of these are pure Column expressions (JVM-side, whole-stage codegen,
oracle-checkable in ANSI SQL) — deliberately NOT UDFs: at 100 TB these run
over every document, so they must stay inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small closed set of high-frequency English function words — the
# cheap "is this prose?" signal behind the low_stopword rule.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "in", "on", "at", "is", "are",
    "was", "with", "for", "to", "by", "from", "this", "that", "it",
]


def normalize_text_expr(col: str | Column) -> Column:
    """Lower-case, collapse each whitespace run to one space, then trim:
    copies of a text that differ only in whitespace, at the edges too,
    normalize alike."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _tokens(text_col: str | Column) -> Column:
    """Lower-cased tokens between whitespace runs. NULL text gives NULL,
    and an empty or blank text one empty token."""
    return F.split(normalize_text_expr(text_col), " ")


def stopword_ratio_expr(text_col: str | Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are in the given stopword set."""
    toks = _tokens(text_col)
    sw = F.array(*[F.lit(w) for w in stopwords])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_sw / F.greatest(F.size(toks), F.lit(1))


def token_count_expr(text_col: str | Column) -> Column:
    """Whitespace token count: a run of whitespace separates two tokens."""
    return F.size(_tokens(text_col))


def ttr_expr(text_col: str | Column) -> Column:
    """Type-token ratio (distinct tokens / tokens) — the cheap
    lexical-diversity signal; heavily repeated boilerplate scores low."""
    toks = _tokens(text_col)
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def quality_filter_exprs(
    text_col: str | Column, lang_col: str | Column = "lang"
) -> tuple[Column, Column]:
    """Gopher-style document FILTER: (keep boolean, reasons string).

    Each rule yields a label when violated; ``reasons`` is the sorted
    '|'-join of labels (empty = clean), ``keep`` is reasons == ''.
    Thresholds are integer-arithmetic comparisons identical in any
    IEEE engine, so the verdict is oracle-stable without rounding:

    - too_short / too_long — whitespace token count outside [30, 10000]
    - word_len             — mean word length outside [3, 12]
    - low_stopword         — EN stopword ratio < 0.04 (en docs only;
                             the signal is language-specific)
    - high_repetition      — type-token ratio < 0.3 (boilerplate)
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    lang = F.col(lang_col) if isinstance(lang_col, str) else lang_col
    n_toks = token_count_expr(c)
    mean_wl = F.length(c) / F.greatest(n_toks, F.lit(1))
    sw = stopword_ratio_expr(c, EN_STOPWORDS)
    ttr = ttr_expr(c)
    rules = [
        F.when(n_toks < 30, "too_short"),
        F.when(n_toks > 10000, "too_long"),
        F.when((mean_wl < 3.0) | (mean_wl > 12.0), "word_len"),
        F.when((lang == "en") & (sw < 0.04), "low_stopword"),
        F.when(ttr < 0.3, "high_repetition"),
    ]
    reasons = F.array_join(
        F.array_sort(
            F.filter(F.array(*rules), lambda r: r.isNotNull())
        ),
        "|",
    )
    return reasons == "", reasons
