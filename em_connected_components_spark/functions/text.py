"""Text-analysis functions for training-data pipelines over `documents`.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen); the language-ID heuristic is additionally offered as a
vectorized pandas UDF where per-row Python-free expression is impossible.
No reference counterpart — these are the graft's training-data-pipeline ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tiny per-language stopword marker sets (lowercase, surrounded by spaces when
# matched). Deliberately small + deterministic: a heuristic, not a model.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that"),
    "de": ("der", "die", "und", "das", "nicht", "ist"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "es", "una", "que"),
}


def token_count(text: Column | str) -> Column:
    """Whitespace token count. size(split) counts the empty-string artifact on
    blank input, so blank -> 0 explicitly."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / uppercase / digit counters — integer-exact
    quality raw features (ratios left to the caller to keep floats out of
    exactness-sensitive paths)."""
    c = F.col(text_col)
    return df.withColumns(
        {
            "n_chars_q": F.length(c),
            "n_tokens_q": token_count(c),
            "n_punct_q": F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", "")),
            "n_digits_q": F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", "")),
            "n_upper_q": F.length(c) - F.length(F.regexp_replace(c, r"[A-Z]", "")),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the raw features (heuristic:
    penalize very short docs, high punctuation/digit density)."""
    q = quality_features(df, text_col)
    nc = F.col("n_chars_q").cast("double")
    score = (
        F.least(nc / F.lit(500.0), F.lit(1.0))
        * (1 - F.least(F.col("n_punct_q") / F.greatest(nc, F.lit(1.0)) * 4, F.lit(1.0)))
        * (1 - F.least(F.col("n_digits_q") / F.greatest(nc, F.lit(1.0)) * 4, F.lit(1.0)))
    )
    return q.withColumn("quality_score", F.round(score, 6))


def fingerprint(text: Column | str) -> Column:
    """Deterministic 64-bit document fingerprint as 16 hex chars (md5 prefix).

    Engine-portable (md5 is identical everywhere) — used for exact dedup and
    as the stable doc identity in downstream joins.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.substring(F.md5(c), 1, 16)


def language_id_expr(text: Column | str) -> Column:
    """Rule-based language ID as a pure SQL expression: pick the language with
    the most stopword-marker hits (ties -> lexicographically last language,
    struct-greatest semantics; no hits -> 'und'). JVM-side only — no Python
    in the hot path."""
    c = F.col(text) if isinstance(text, str) else text
    lowered = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    scores = []
    for lang, words in sorted(_LANG_MARKERS.items()):
        hits = None
        for w in words:
            h = (
                F.size(F.split(lowered, rf"\s{w}\s")) - 1
            )
            hits = h if hits is None else hits + h
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def language_id_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Same heuristic as a vectorized pandas UDF (Arrow-batched) — the shape
    to use when the classifier grows beyond SQL expressibility."""
    import pandas as pd

    markers = {k: v for k, v in _LANG_MARKERS.items()}

    # note: no type hints — `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint parser rejects; SCALAR is the default
    def _langid_fn(s):
        lowered = " " + s.fillna("").str.lower() + " "
        best_lang = pd.Series("und", index=s.index)
        best_hits = pd.Series(0, index=s.index)
        for lang in sorted(markers):
            hits = sum(
                lowered.str.count(rf"\s{w}\s") for w in markers[lang]
            )
            improve = hits > best_hits
            best_lang = best_lang.where(~improve, lang)
            best_hits = best_hits.where(~improve, hits)
        return best_lang

    _langid = F.pandas_udf(_langid_fn, T.StringType())
    return df.withColumn("lang_pred", _langid(F.col(text_col)))
