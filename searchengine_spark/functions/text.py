"""Text-analysis operators for the training-data pipeline.

Language-ID (marker-word heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting. All are native Spark SQL expressions with
DuckDB SQL twins so every one is oracle-checkable; the reference's
tokenizer state machine (getWords, SearchEngine.cpp:282-490) informs
the word-splitting rules and the stop-word list (SearchEngine.h:580-593).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from searchengine_spark.functions.hashes import hash60, hash60_sql

# reference stop-words (SearchEngine.h:580-593) + common English fillers
STOPWORDS = ["www", "com", "a", "of", "the", "for", "and", "to", "in", "is"]

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "for"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "les", "et", "une"],
}

BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_expr(text: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(c, r"\s+"))


def bpe_token_count_expr(text: Column | str) -> Column:
    """BPE-ish token estimate: alpha runs + single digits + punct marks
    (regexp_count both engines)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def bpe_token_count_sql(text: str) -> str:
    return f"len(regexp_extract_all({text}, '{BPE_TOKEN_PATTERN}'))"


def _marker_hits(c: Column, markers: list[str]) -> Column:
    """Occurrences of any marker as a whole word."""
    pat = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pat))


def _marker_hits_sql(text: str, markers: list[str]) -> str:
    pat = r"\b(" + "|".join(markers) + r")\b"
    return f"len(regexp_extract_all(lower({text}), '{pat}'))"


def lang_guess_expr(text: Column | str) -> Column:
    """argmax over language marker-word hit counts ('und' when all 0)."""
    c = F.col(text) if isinstance(text, str) else text
    hits = {lang: _marker_hits(c, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # first-wins tie-break in dict order
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def lang_guess_sql(text: str) -> str:
    hits = {lang: _marker_hits_sql(text, m) for lang, m in LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = " ".join(
        f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END"


def stopword_ratio_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = token_count_expr(c)
    hits = _marker_hits(c, STOPWORDS)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio_sql(text: str) -> str:
    n = f"len(string_split_regex({text}, '\\s+'))"
    hits = _marker_hits_sql(text, STOPWORDS)
    return f"CASE WHEN {n} > 0 THEN CAST({hits} AS DOUBLE)/{n} ELSE 0.0 END"


def punct_ratio_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    ln = F.length(c)
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    return F.when(ln > 0, punct.cast("double") / ln).otherwise(F.lit(0.0))


def punct_ratio_sql(text: str) -> str:
    punct = f"len(regexp_extract_all({text}, '[^\\w\\s]'))"
    return (
        f"CASE WHEN length({text}) > 0 THEN CAST({punct} AS DOUBLE)/length({text}) "
        f"ELSE 0.0 END"
    )


def quality_score_expr(text: Column | str) -> Column:
    """Composite [0,1]: rewards length (to 200 words), penalizes
    punctuation soup, expects a natural stop-word rate (~cap 0.3)."""
    c = F.col(text) if isinstance(text, str) else text
    n = token_count_expr(c).cast("double")
    length_part = F.least(n / F.lit(200.0), F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(punct_ratio_expr(c) * 5, F.lit(1.0))
    stop_part = F.least(stopword_ratio_expr(c) / 0.3, F.lit(1.0))
    return F.round(0.4 * length_part + 0.3 * punct_part + 0.3 * stop_part, 4)


def quality_score_sql(text: str) -> str:
    n = f"CAST(len(string_split_regex({text}, '\\s+')) AS DOUBLE)"
    length_part = f"least({n}/200.0, 1.0)"
    punct_part = f"(1.0 - least(({punct_ratio_sql(text)})*5, 1.0))"
    stop_part = f"least(({stopword_ratio_sql(text)})/0.3, 1.0)"
    return f"round(0.4*{length_part} + 0.3*{punct_part} + 0.3*{stop_part}, 4)"


def fingerprint_expr(text: Column | str) -> Column:
    """Document fingerprint: min/max word-hash pair packed into one
    long (a 2-perm minhash signature — cheap containment prefilter)."""
    c = F.col(text) if isinstance(text, str) else text
    words = F.array_distinct(F.split(c, " "))
    h = F.transform(words, lambda w: hash60(w, "fp"))
    return (F.array_min(h) % F.lit(1 << 30)) * F.lit(1 << 30) + (
        F.array_max(h) % F.lit(1 << 30)
    )


def fingerprint_sql(text: str) -> str:
    h = (
        f"list_transform(list_distinct(string_split({text}, ' ')), "
        f"w -> {hash60_sql('w', 'fp')})"
    )
    return (
        f"(list_min({h}) % {1 << 30}) * {1 << 30} + (list_max({h}) % {1 << 30})"
    )
