"""Text-analysis functions for a web-scale training-data pipeline:
language-ID, quality scoring, token counting, document fingerprinting.

These are the webtext analogs of the reference's scalar normalization
functions (SURVEY.md §2.7: parseDate/parseBool/normalizations,
solr_adapter.py:592-619 dedup utilities) — implemented as **pure built-in
column expressions** (JVM-side, whole-stage-codegen'd, zero Python), each
paired with an ANSI-SQL twin used by the DuckDB correctness oracle so the
two stay in sync by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- tokens


def token_count(col: str = "text") -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(F.col(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def token_count_sql(col: str = "text") -> str:
    return (
        f"CASE WHEN trim({col}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
    )


def bpe_ish_token_count(col: str = "text") -> Column:
    """Sub-word-ish token count: split on word/punct boundaries (a cheap BPE
    proxy: runs of letters, runs of digits, single punctuation)."""
    t = F.col(col)
    toks = F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(toks).cast("long")


def bpe_ish_token_count_sql(col: str = "text") -> str:
    return f"len(regexp_extract_all({col}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


# ---------------------------------------------------------------- lang id

#: tiny per-language stopword markers (surrounded by spaces when counting)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def _occurrences(text: Column, needle: str) -> Column:
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def lang_score(col: str, lang: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(F.col(col)), F.lit(" "))
    s = F.lit(0).cast("long")
    for m in LANG_MARKERS[lang]:
        s = s + _occurrences(padded, m)
    return s


def lang_id(col: str = "text") -> Column:
    """Argmax language over marker counts; 'und' (undetermined) when all 0.

    Deterministic tie-break: language order en, de, fr, es (strictly-greater
    comparison in that order).
    """
    scores = {lang: lang_score(col, lang) for lang in LANG_MARKERS}
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in LANG_MARKERS:  # en,de,fr,es — first wins ties
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def _occurrences_sql(text: str, needle: str) -> str:
    return f"((length({text}) - length(replace({text}, '{needle}', ''))) / {len(needle)})::BIGINT"


def lang_id_sql(col: str = "text") -> str:
    padded = f"(' ' || lower({col}) || ' ')"
    score = {
        lang: "(" + " + ".join(_occurrences_sql(padded, m) for m in ms) + ")"
        for lang, ms in LANG_MARKERS.items()
    }
    # same sequential argmax with first-wins tie-break
    expr = "'und'"
    best = "0::BIGINT"
    for lang in LANG_MARKERS:
        expr = f"CASE WHEN {score[lang]} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"greatest({score[lang]}, {best})"
    return expr


# ---------------------------------------------------------------- quality


def quality_score(col: str = "text") -> Column:
    """Heuristic quality in [0,1]: alpha ratio, space ratio sanity, and a
    length band — the webtext analog of the reference's empty-content guard
    (solr_adapter.py:562-568) upgraded to a score."""
    t = F.col(col)
    n = F.greatest(F.length(t), F.lit(1)).cast("double")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double") / n
    spaces = F.length(F.regexp_replace(t, r"[^ ]", "")).cast("double") / n
    len_band = F.when(F.length(t) < 20, F.lit(0.2)).when(F.length(t) > 20000, F.lit(0.5)).otherwise(F.lit(1.0))
    space_band = F.when((spaces > 0.05) & (spaces < 0.3), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(alpha * len_band * space_band, 6)


def quality_score_sql(col: str = "text") -> str:
    n = f"greatest(length({col}), 1)::DOUBLE"
    alpha = f"(length(regexp_replace({col}, '[^A-Za-z]', '', 'g'))::DOUBLE / {n})"
    spaces = f"(length(regexp_replace({col}, '[^ ]', '', 'g'))::DOUBLE / {n})"
    len_band = (
        f"CASE WHEN length({col}) < 20 THEN 0.2::DOUBLE "
        f"WHEN length({col}) > 20000 THEN 0.5::DOUBLE ELSE 1.0::DOUBLE END"
    )
    space_band = f"CASE WHEN {spaces} > 0.05 AND {spaces} < 0.3 THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END"
    return f"round({alpha} * {len_band} * {space_band}, 6)"


# ----------------------------------------------------------- fingerprint


def content_fingerprint(col: str = "text") -> Column:
    """Normalized-content fingerprint: md5 of lowercased, whitespace-collapsed
    text (the analog of the reference's json_fingerprint change token,
    tasks.py:56)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")
    return F.md5(norm)


def content_fingerprint_sql(col: str = "text") -> str:
    return f"md5(regexp_replace(lower(trim({col})), '\\s+', ' ', 'g'))"


def portable_hash(expr: Column) -> Column:
    """63-bit deterministic hash computable identically in Spark and DuckDB:
    first 15 hex digits of md5 as a bigint."""
    return F.conv(F.substring(F.md5(expr), 1, 15), 16, 10).cast("long")
