"""Batched string-similarity kernels (SURVEY.md §2.10 F2).

The reference's match decision is an LLM/Wikidata confidence ladder
(link_entities.py:374-400, 517-545; threshold 0.7 at :57). Our deterministic
replacement scores each candidate label pair with a convex combination of
Jaro-Winkler, Levenshtein ratio, and character-trigram Jaccard, computed
over whole Arrow batches inside a pandas UDF (pair-level Python only inside
the batch loop — strings are short mention labels, and scoring runs on
DISTINCT label pairs, not mention occurrences, so batches are small).

score = 0.45*jaro_winkler + 0.35*lev_ratio + 0.20*trigram_jaccard
MATCH_THRESHOLD = 0.7 (same constant as the reference).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

MATCH_THRESHOLD = 0.7
W_JARO_WINKLER = 0.45
W_LEVENSHTEIN = 0.35
W_TRIGRAM_JACCARD = 0.20
# surrounding-turn-context bonus (north star: score "mention strings and
# surrounding turn context"): final = min(kernel + CTX_WEIGHT *
# jaccard(top-5 co-mention context vectors), 1.0). Additive-only so string
# matches never lose recall to missing context; sized so confusable
# negatives (java/javascript base ~0.60, python/pytorch ~0.61) stay below
# the 0.7 threshold even at perfect context agreement (F1 gate pins this).
CTX_WEIGHT = 0.08
# evidence floor: the bonus applies only when the two context vectors
# agree ESSENTIALLY COMPLETELY (jaccard >= 0.8 — for two full top-5
# vectors the possible jaccards jump from 2/3 to 1.0, so this means set
# identity). Partial overlap is not evidence of sameness: two DISTINCT
# band-kernel entities can share most co-mentions by chance in a small
# corpus (seed-robustness probe: ecmascript/javascript, kernel 0.6586,
# hit jaccard 2/3 at one corpus seed and crossed 0.7 before the floor —
# the multi-seed F1 test pins that seed now). True same-entity variants
# converge to identical top-5 vectors as evidence grows.
CTX_MIN_JACC = 0.8
# variant-shape guard: context agreement alone can NEVER be allowed to
# cross the threshold, because distinct real entities crowd the
# threshold from below (apache flink|apache spark kernel = 0.6970) and
# genuinely share contexts — at some corpus seeds identical top-5
# vectors transitively merged all five apache products. The bonus is
# therefore restricted to VARIANT-SHAPED pairs: levenshtein_ratio >=
# CTX_VARIANT_LEV, i.e. keystroke-scale edits (typo variants:
# kubernetes|kubernets 0.9, postgresql|postgresq 0.9) — distinct
# products differ by whole morphemes (apache flink|apache spark 0.667,
# ecmascript|javascript 0.7) and stay below it. Context then only
# arbitrates pairs whose strings already look like the same word.
CTX_VARIANT_LEV = 0.8
# bounded evidence: a label's context vector aggregates a deterministic
# HASH-SPREAD sample of CTX_EVIDENCE_TURNS of its turns (ordered by
# md5(conv_id|turn_idx) — an unbiased spread over the label's whole turn
# set, identical in Spark and DuckDB), not every occurrence — a hot label
# ('not', 'apache spark') would otherwise drag the whole corpus into the
# context aggregation. First-K sampling is NOT equivalent: early turns
# are correlated (template blocks), which biased hot-word vectors toward
# each other and flipped labeled negatives (F1 0.986); the hash spread
# restores the full-context separation at bounded cost.
CTX_EVIDENCE_TURNS = 100


def jaro(a: str, b: str) -> float:
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ca:
                match_a[i] = match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: compare matched chars in order
    bs = [b[j] for j in range(lb) if match_b[j]]
    t = sum(1 for ca, cb in zip((a[i] for i in range(la) if match_a[i]), bs) if ca != cb)
    t //= 2
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, p: float = 0.1, max_prefix: int = 4) -> float:
    j = jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for ca, cb in zip(a, b):
        if ca != cb or prefix >= max_prefix:
            break
        prefix += 1
    return j + prefix * p * (1.0 - j)


def levenshtein_ratio(a: str, b: str) -> float:
    """1 - edit_distance / max(len). Banded DP, early-exit on equality."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if la < lb:
        a, b, la, lb = b, a, lb, la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return 1.0 - prev[lb] / float(la)


def _trigrams(s: str) -> set[str]:
    padded = f"  {s} "  # pad so short strings still produce grams
    return {padded[i : i + 3] for i in range(len(padded) - 2)}


def trigram_jaccard(a: str, b: str) -> float:
    ta, tb = _trigrams(a), _trigrams(b)
    if not ta or not tb:
        return 0.0
    inter = len(ta & tb)
    return inter / float(len(ta) + len(tb) - inter)


def token_jaccard(a: str, b: str) -> float:
    ta, tb = set(a.split()), set(b.split())
    if not ta or not tb:
        return 0.0
    inter = len(ta & tb)
    return inter / float(len(ta) + len(tb) - inter)


def combined_score(a: str, b: str) -> float:
    """0.45*name_sim + 0.35*lev_ratio + 0.20*trigram_jaccard, where
    name_sim is Jaro-Winkler for single-word pairs but PLAIN Jaro when
    either label is multi-word. The Winkler prefix boost models "typos
    rarely hit a word's first letters" — valid within one word, wrong
    across word boundaries, where a shared first TOKEN is a brand or
    namespace, not evidence of sameness: with the boost,
    'apache kafka'|'apache spark' scored 0.7020 (>= the 0.7 threshold)
    and silently co-clustered on every corpus seed; without it the pair
    is 0.6654 and every apache product stays distinct, while all
    single-word typo positives are untouched (DuckDB mirror:
    kernel_score_sql; jaro_similarity bit-parity property-tested)."""
    if a == b:
        return 1.0
    name_sim = jaro(a, b) if (" " in a or " " in b) else jaro_winkler(a, b)
    return (
        W_JARO_WINKLER * name_sim
        + W_LEVENSHTEIN * levenshtein_ratio(a, b)
        + W_TRIGRAM_JACCARD * trigram_jaccard(a, b)
    )


# ---- batch kernels (operate on numpy object arrays) ------------------------
def combined_score_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    av = a.fillna("").to_numpy(dtype=object)
    bv = b.fillna("").to_numpy(dtype=object)
    out = np.empty(len(av), dtype=np.float64)
    for i in range(len(av)):
        out[i] = combined_score(av[i], bv[i])
    return pd.Series(out, index=a.index)


@F.pandas_udf(DoubleType())
def pair_score(a: pd.Series, b: pd.Series) -> pd.Series:  # pragma: no cover
    return combined_score_batch(a, b)
