"""Text-analysis column expressions — all built-in ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen'd; no Python in the hot path).

Covers the graft analogs of the reference's per-record projections/filters
(SURVEY.md §2.2) plus the training-data-pipeline text ops: normalization,
usability filtering and quality scoring.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal public-domain stopword list (quality-score feature).
STOPWORDS_EN = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def normalize_text(col: Column, lowercase: bool = True, collapse_ws: bool = True) -> Column:
    """Normalization key before shingling — analog of the reference's
    soft-clip-corrected start position (``lib/parse_sam.py:25-26``): the
    canonicalized value records group under.

    NB: the raw ``text`` column is never modified (byte-identical-text
    invariant per url, BASELINE.json input_hint); this derives a new column.
    """
    c = col
    if lowercase:
        c = F.lower(c)
    if collapse_ws:
        c = F.regexp_replace(c, r"\s+", " ")
        c = F.trim(c)
    return c


def usable_filter(text: Column, min_chars: int) -> Column:
    """Usability predicate — analog of ``alignment_is_good`` +
    min-length filter (``lib/parse_sam.py:5-6``, ``extract_umi.py:25-27``)."""
    return text.isNotNull() & (F.length(text) >= min_chars)


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation/symbols."""
    n = F.length(col)
    npunct = F.length(F.regexp_replace(col, r"[\sa-zA-Z0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(npunct.cast("double") / n.cast("double"))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (English) stopwords."""
    sw = stopwords or STOPWORDS_EN
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    n = F.size(toks)
    n_sw = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return F.when(n == 0, F.lit(0.0)).otherwise(n_sw.cast("double") / n.cast("double"))


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1] — graft analog of the per-read
    quality sum used for survivor ranking (``lib/parse_sam.py:36-37``).

    score = 0.4*length_score + 0.3*(1 - punct_ratio) + 0.3*stopword_presence
    where length_score saturates at 500 chars.
    """
    length_score = F.least(F.length(col).cast("double") / 500.0, F.lit(1.0))
    sw = stopword_ratio(col)
    sw_presence = F.least(sw * 5.0, F.lit(1.0))  # saturate at 20 % stopwords
    return (
        0.4 * length_score + 0.3 * (1.0 - punct_ratio(col)) + 0.3 * sw_presence
    ).alias("quality")
