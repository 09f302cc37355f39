"""Text-analysis functions for large-scale corpus pipelines.

These extend the reference's text handling (truncation, min-length,
normalization) with the document-level operators a 100TB training-data
pipeline needs: language ID, quality scoring, token counting, and
document fingerprinting. Everything is a Column expression — no
per-row Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword heuristic
# language identifier (deterministic, dependency-free)
_LANG_PROFILES: dict[str, frozenset[str]] = {
    "en": frozenset({"the", "and", "of", "to", "in", "is", "that", "it", "for", "with"}),
    "es": frozenset({"el", "la", "de", "que", "y", "en", "los", "se", "del", "las"}),
    "de": frozenset({"der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"}),
    "fr": frozenset({"le", "la", "les", "de", "et", "est", "des", "une", "dans", "que"}),
    "pt": frozenset({"o", "a", "de", "que", "e", "do", "da", "em", "um", "os"}),
}


def token_count(col: str | Column = "text") -> Column:
    """Whitespace token count (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, r"\s+"))


def bpe_ish_token_count(col: str | Column = "text") -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punct boundaries (a cheap BPE proxy, JVM-side regex)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_replace(c, r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)", "$1 ")
    return F.size(F.split(F.trim(pieces), r"\s+"))


def quality_features(df, text_col: str = "text"):
    """Length / punctuation / stopword-ratio quality features (all JVM-side).

    Adds: n_chars_q, n_tokens_q, punct_ratio, stopword_ratio_en,
    mean_token_len, quality_score in [0,1]."""
    c = F.col(text_col)
    toks = F.split(c, r"\s+")
    n_tok = F.size(toks)
    en = list(_LANG_PROFILES["en"])
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(en)))
    punct = F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
    out = (
        df.withColumn("n_chars_q", F.length(c))
        .withColumn("n_tokens_q", n_tok)
        .withColumn("punct_ratio", F.round(punct / F.greatest(F.length(c), F.lit(1)), 4))
        .withColumn("stopword_ratio_en", F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 4))
        .withColumn(
            "mean_token_len",
            F.round((F.length(c) - n_tok + 1) / F.greatest(n_tok, F.lit(1)), 4),
        )
    )
    # quality: long enough, low punctuation noise, some-but-not-all stopwords
    score = (
        F.least(F.col("n_tokens_q") / F.lit(50.0), F.lit(1.0)) * 0.4
        + (1 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.3
        + F.least(F.col("stopword_ratio_en") * 5, F.lit(1.0)) * 0.3
    )
    # floor(x*1e4+0.5)/1e4 instead of round(x, 4): the blend of 4dp-rounded
    # inputs lands exactly on .00005 boundaries where engines disagree on
    # half-rounding of doubles; this form is pure IEEE754 arithmetic and
    # reproduces bit-identically anywhere (the DuckDB oracle uses the same
    # expression)
    return out.withColumn(
        "quality_score", F.floor(score * 10000 + F.lit(0.5)) / 10000
    )


def _lang_id_batch(texts: pd.Series) -> pd.Series:
    """Stopword-profile language identifier over a pandas batch: the
    reference lang_id_col is tested against."""
    toks = texts.fillna("").str.lower().str.split()
    def score(words: list[str]) -> str:
        if not words:
            return "und"
        s = set(words)
        best, best_hits = "und", 0
        for lang, prof in _LANG_PROFILES.items():
            hits = len(s & prof)
            if hits > best_hits:
                best, best_hits = lang, hits
        return best
    return toks.map(score)


def lang_id_col(c: str | Column = "text") -> Column:
    """Stopword-profile language identifier as a pure Column
    (decision-identical to _lang_id_batch; pinned by tests). Keeps
    language ID inside whole-stage codegen — a pandas UDF would pay the
    JVM->Arrow->Python boundary for ten set-membership probes per row
    (guide §4.1: prefer built-ins when they exist).

    Exact argmax semantics of _lang_id_batch: profiles are probed in
    dict insertion order and a later language must STRICTLY beat the
    best so far, so ties keep the earlier language — encoded here by
    ranking profiles in reverse insertion order and taking greatest()
    over (hits, rank) structs; hits == 0 -> 'und'. array_intersect
    dedups, so size() == |token set ∩ profile| exactly like the pandas
    set intersection; pandas str.split() drops empty strings while
    split(text, '\\s+') can keep a leading '' — no profile contains ''
    so intersect sizes agree."""
    c = F.col(c) if isinstance(c, str) else c
    toks = F.split(F.lower(c), r"\s+")
    n = len(_LANG_PROFILES)
    cands = [
        F.struct(
            F.coalesce(
                F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in sorted(prof)]))),
                F.lit(0),
            ).alias("hits"),
            F.lit(n - i).alias("rank"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, prof) in enumerate(_LANG_PROFILES.items())
    ]
    best = F.greatest(*cands)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col: str | Column = "text", prefix_chars: int = 256) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercase prefix (rolling-hash analog, JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(F.substring(norm, 1, prefix_chars))
