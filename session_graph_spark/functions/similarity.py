"""Batched string-similarity kernels (SURVEY.md §2.10 F2).

The reference's match decision is an LLM/Wikidata confidence ladder
(link_entities.py:374-400, 517-545; threshold 0.7 at :57). Our deterministic
replacement scores each candidate label pair with a convex combination of
Jaro-Winkler, Levenshtein ratio, and character-trigram Jaccard. The scalar
functions below are the reference; the pandas UDF `pair_score` runs
`combined_score_batch`, a whole-batch array program with no per-pair
Python: each Arrow batch is decoded to padded code-point matrices, grouped
by length, and scored by numpy operations that reproduce the scalar
arithmetic bit for bit. Scoring runs on DISTINCT label pairs, not mention
occurrences.

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


# ---- batch kernel: one array program per length bucket ---------------------
# Length buckets: a batch's pairs are grouped by their longer label, and
# each group is padded only to its own widest label, so one long label
# cannot widen every row's code-point matrix.
_BUCKET_EDGES = np.array([8, 12, 16, 24, 32, 48, 64, 96, 128, 256, 512, 1024])
_SPACE = ord(" ")


def _codepoints(strs: np.ndarray, width: int) -> np.ndarray:
    """(n, width) int64 code-point matrix (utf-32), zero past each string's
    end. Callers carry the exact lengths: a real U+0000 inside a label is
    also 0, so every comparison is masked by length, never by value."""
    width = max(width, 1)
    cp = strs.astype(f"U{width}").view(np.uint32).reshape(len(strs), width)
    return cp.astype(np.int64)


def _levenshtein_batch(A, la, B, lb) -> np.ndarray:
    """Edit distance per row: the row-by-row DP of levenshtein_ratio,
    vectorized across rows. Within DP row i, cur[j] = min(t[j],
    cur[j-1] + 1) with t[j] = min(prev[j] + 1, prev[j-1] + cost) is the
    prefix minimum j + min_{k<=j}(t[k] - k). D[la, lb] is read when i
    reaches each row's la; padding past la or lb never feeds those cells."""
    n, wb = B.shape
    j = np.arange(wb + 1)
    prev = np.broadcast_to(j, (n, wb + 1)).copy()
    dist = lb.copy()  # la == 0: D[0, lb] = lb
    t = np.empty_like(prev)
    for i in range(1, int(la.max(initial=0)) + 1):
        t[:, 0] = i
        np.minimum(prev[:, 1:] + 1, prev[:, :-1] + (B != A[:, i - 1 : i]),
                   out=t[:, 1:])
        prev = np.minimum.accumulate(t - j, axis=1) + j
        done = np.flatnonzero(la == i)
        dist[done] = prev[done, lb[done]]
    return dist


def _jaro_batch(A, la, B, lb) -> np.ndarray:
    """jaro() per row for la, lb > 0 (0.0 otherwise): the greedy in-window
    first match, one position of a at a time across all rows, then
    transpositions from the matched characters of both sides in order."""
    n, wa = A.shape
    wb = B.shape[1]
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    jpos = np.arange(wb)
    rows = np.arange(n)
    match_a = np.zeros((n, wa), dtype=bool)
    match_b = np.zeros((n, wb), dtype=bool)
    for i in range(int(la.max(initial=0))):
        lo = np.maximum(i - window, 0)[:, None]
        hi = np.minimum(lb, i + window + 1)[:, None]
        cand = ((B == A[:, i : i + 1]) & ~match_b & (jpos >= lo) & (jpos < hi)
                & (i < la)[:, None])
        hit = cand.any(axis=1)
        match_a[hit, i] = True
        match_b[rows[hit], cand.argmax(axis=1)[hit]] = True
    m = match_a.sum(axis=1)
    # matched characters in order: a stable argsort puts matched slots first
    in_a = np.take_along_axis(A, np.argsort(~match_a, axis=1, kind="stable"), 1)
    in_b = np.take_along_axis(B, np.argsort(~match_b, axis=1, kind="stable"), 1)
    w = min(wa, wb)
    t = ((in_a[:, :w] != in_b[:, :w]) & (np.arange(w) < m[:, None])).sum(axis=1) // 2
    ok = m > 0
    mf = np.where(ok, m, 1).astype(np.float64)
    jaro_v = (mf / np.maximum(la, 1) + mf / np.maximum(lb, 1) + (mf - t) / mf) / 3.0
    return np.where(ok, jaro_v, 0.0)


def _trigram_codes(C, lens) -> tuple[np.ndarray, np.ndarray]:
    """Sorted padded-trigram codes per row ('  s ', as _trigrams) and a
    mask of each row's distinct codes. A trigram packs its three code
    points as 21-bit fields of one int64; slots past a row's len+1
    trigrams hold -1 and sort first."""
    n, w = C.shape
    P = np.zeros((n, w + 3), dtype=np.int64)
    P[:, :2] = _SPACE
    P[:, 2 : w + 2] = C
    P[np.arange(n), lens + 2] = _SPACE
    G = (P[:, : w + 1] << 42) | (P[:, 1 : w + 2] << 21) | P[:, 2 : w + 3]
    G[np.arange(w + 1) > lens[:, None]] = -1
    G.sort(axis=1)
    first = np.ones_like(G, dtype=bool)
    first[:, 1:] = G[:, 1:] != G[:, :-1]
    return G, first & (G >= 0)


def _trigram_jaccard_batch(A, la, B, lb) -> np.ndarray:
    ga, ua = _trigram_codes(A, la)
    gb, ub = _trigram_codes(B, lb)
    # each side's distinct codes, merged: a shared trigram is the one
    # adjacent equal pair it forms in the merged sort
    merged = np.concatenate([np.where(ua, ga, -1), np.where(ub, gb, -1)], axis=1)
    merged.sort(axis=1)
    inter = ((merged[:, 1:] == merged[:, :-1]) & (merged[:, 1:] >= 0)).sum(axis=1)
    return inter / (ua.sum(axis=1) + ub.sum(axis=1) - inter).astype(np.float64)


def _combined_score_arrays(av, la, bv, lb) -> np.ndarray:
    """combined_score over one length bucket, in its arithmetic order."""
    A = _codepoints(av, int(la.max(initial=0)))
    B = _codepoints(bv, int(lb.max(initial=0)))
    j = _jaro_batch(A, la, B, lb)
    # jaro_winkler's prefix boost (p = 0.1, at most 4 characters), for
    # single-word pairs only; see combined_score
    k = min(4, A.shape[1], B.shape[1])
    prefix = np.cumprod((A[:, :k] == B[:, :k])
                        & (np.arange(k) < np.minimum(la, lb)[:, None]),
                        axis=1).sum(axis=1)
    multi_word = (((A == _SPACE) & (np.arange(A.shape[1]) < la[:, None])).any(axis=1)
                  | ((B == _SPACE) & (np.arange(B.shape[1]) < lb[:, None])).any(axis=1))
    name_sim = np.where((j > 0.7) & ~multi_word, j + prefix * 0.1 * (1.0 - j), j)
    lev = 1.0 - _levenshtein_batch(A, la, B, lb) / np.maximum(np.maximum(la, lb), 1)
    return (
        W_JARO_WINKLER * name_sim
        + W_LEVENSHTEIN * lev
        + W_TRIGRAM_JACCARD * _trigram_jaccard_batch(A, la, B, lb)
    )


def combined_score_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """combined_score for every row of two label Series, bit-equal to the
    scalar function (null reads as ""). A whole-batch array program with
    no per-pair Python: rows are grouped into length buckets and each
    bucket runs the Levenshtein DP, the Jaro match and the trigram sets as
    numpy operations over its padded code-point matrices."""
    av = a.fillna("").to_numpy(dtype=object)
    bv = b.fillna("").to_numpy(dtype=object)
    la = np.fromiter(map(len, av), dtype=np.int64, count=len(av))
    lb = np.fromiter(map(len, bv), dtype=np.int64, count=len(bv))
    out = np.empty(len(av), dtype=np.float64)
    bucket = np.searchsorted(_BUCKET_EDGES, np.maximum(la, lb))
    for key in np.unique(bucket):
        idx = np.flatnonzero(bucket == key)
        out[idx] = _combined_score_arrays(av[idx], la[idx], bv[idx], lb[idx])
    out[av == bv] = 1.0
    return pd.Series(out, index=a.index)


@F.pandas_udf(DoubleType())
def pair_score(a: pd.Series, b: pd.Series) -> pd.Series:  # pragma: no cover
    return combined_score_batch(a, b)
